"""Relational operator queries: joins, set ops, dedup, casts, rollup.

Each query re-expresses one reference operator family (SURVEY.md §2) on the
driver's synthetic tables, with a DuckDB oracle. The Spark implementations
go through the reusable operators in ``operators/`` where one exists.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from datalakes_and_data_integration_spark.operators import (
    dedup_full_row,
    dedup_keep_first,
    outer_merge_pivot,
    prefix_columns,
)
from datalakes_and_data_integration_spark.plans._util import (
    PRICE,
    T,
    dec,
    msum,
    r6,
    r6_sql,
)
from datalakes_and_data_integration_spark.plans.registry import register

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

# ---------------------------------------------------------------------------
# J1 — multi-way full-outer equi-join (the reference's only join).
# Reference: pd.merge left-fold over per-pollutant frames on
# (code_site, date_de_debut) — process_to_curated.py:176-186. Here: one
# aggregate frame per event type, outer-merged on user_id; the HAVING
# threshold makes users missing from some sides so the null fan-out is real.
# ---------------------------------------------------------------------------

_MERGE_MIN = 12


def _per_type_agg(spark, sf_dir, etype):
    ev = T(spark, sf_dir, "events").filter(F.col("event_type") == etype)
    agg = (
        ev.groupBy("user_id")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum(dec("value", 18, 6)), 4).cast("double").alias("val"),
        )
        .filter(F.col("cnt") >= _MERGE_MIN)
    )
    return prefix_columns(agg, etype, ["user_id"])


def _merge_oracle_ctes():
    ctes = ", ".join(
        f"""t_{t} AS (
          SELECT user_id, count(*) AS {t}_cnt,
                 CAST(ROUND(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS {t}_val
          FROM events WHERE event_type = '{t}'
          GROUP BY user_id HAVING count(*) >= {_MERGE_MIN}
        )"""
        for t in EVENT_TYPES
    )
    joins = "t_click"
    for t in EVENT_TYPES[1:]:
        joins += f" FULL JOIN t_{t} USING (user_id)"
    cols = ", ".join(f"{t}_cnt, {t}_val" for t in EVENT_TYPES)
    return f"WITH {ctes} SELECT user_id, {cols} FROM {joins}"


@register(
    "full_outer_merge_events",
    oracle=_merge_oracle_ctes(),
    description="N-way full-outer equi-join of per-event-type user aggregates "
    "(reference J1: the curated-zone pandas outer merge), with join-key "
    "coalescing and null fan-out.",
    tags=("join", "outer", "parity"),
    bench=True,
)
def full_outer_merge_events(spark, sf_dir):
    # r09 optimization: the join-fold form re-shuffles the widening table
    # at every step (13 exchanges for 5 inputs — the coalesced keys erase
    # partitioning); outer_merge_pivot is the single-shuffle equivalent
    # (union + group once, any_value(ignoreNulls) reassembly) and was
    # measured faster here (0.47 -> 0.33 s warm min) with bit-identical
    # rows (exceptAll both ways = 0). The fold operator itself stays
    # exercised by tests/test_operators.py; at 100 TB one hash shuffle of
    # the tall union beats N-1 re-shuffles of ever-wider rows.
    frames = [_per_type_agg(spark, sf_dir, t) for t in EVENT_TYPES]
    merged = outer_merge_pivot(frames, ["user_id"])
    return merged.select(
        "user_id",
        *[c for t in EVENT_TYPES for c in (f"{t}_cnt", f"{t}_val")],
    )


# ---------------------------------------------------------------------------
# U1 + A1 — union of overlapping slices, then full-row distinct.
# Reference: per-file row lists appended then set-deduped
# (preprocess_to_staging.py:171,193-197).
# ---------------------------------------------------------------------------


@register(
    "union_dedup_events",
    oracle="""
    SELECT DISTINCT * FROM (
      SELECT * FROM events WHERE event_id < 7000
      UNION ALL
      SELECT * FROM events WHERE event_id >= 3000
    )
    """,
    description="Union of two overlapping event slices then DISTINCT over all "
    "columns (reference U1+A1: re-ingested files deduped row-wise).",
    tags=("set", "dedup", "parity"),
)
def union_dedup_events(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    a = ev.filter(F.col("event_id") < 7000)
    b = ev.filter(F.col("event_id") >= 3000)
    return dedup_full_row(a.unionByName(b))


# ---------------------------------------------------------------------------
# A2 / S15 — keyed dedup with deterministic first-writer-wins.
# Reference: Cassandra INSERT IF NOT EXISTS keeps the first row per PK in
# S3-listing order (preprocess_to_staging.py:140); rebuilt with an explicit
# total order (SURVEY.md §7.4).
# ---------------------------------------------------------------------------


@register(
    "pk_dedup_first_writer",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value, props
    FROM events
    QUALIFY row_number() OVER (
      PARTITION BY user_id, event_type ORDER BY ts, event_id
    ) = 1
    """,
    description="Keep the first row per (user_id, event_type) under an "
    "explicit (ts, event_id) order — deterministic first-writer-wins "
    "(reference A2/S15 LWT insert).",
    tags=("dedup", "window", "parity"),
)
def pk_dedup_first_writer(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    out = dedup_keep_first(ev, ["user_id", "event_type"], [F.col("ts"), F.col("event_id")])
    return out.select("event_id", "ts", "user_id", "event_type", "value", "props")


# ---------------------------------------------------------------------------
# Semi / anti joins. The reference's LWT insert acts as a left-anti join of
# incoming rows against existing PKs (SURVEY.md §2.3).
# ---------------------------------------------------------------------------


@register(
    "semi_join_big_spenders",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
    )
    """,
    description="Customers having at least one order over 400k (left-semi "
    "join / EXISTS).",
    tags=("join", "semi"),
)
def semi_join_big_spenders(spark, sf_dir):
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@register(
    "anti_join_inactive_customers",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey
        AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
    )
    """,
    description="Customers with no order since 2000 (left-anti join / NOT "
    "EXISTS — the reference's incoming-vs-existing-PK filter, SURVEY.md §2.3).",
    tags=("join", "anti"),
)
def anti_join_inactive_customers(spark, sf_dir):
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00")
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


# ---------------------------------------------------------------------------
# P2/F2/F3/P3 — typed casts with null-on-error, two-format timestamp parse,
# empty-string -> null, empty-row filter.
# Reference: preprocess_to_staging.py:35-63 (casts), :195 (empty-row filter).
# The date strings are derived deterministically from events.ts (even ids get
# date-only strings, exercising the format fallback).
# ---------------------------------------------------------------------------


@register(
    "typed_cast_null_on_error",
    oracle="""
    WITH raw AS (
      SELECT event_id,
             CASE WHEN event_id % 2 = 0 THEN strftime(ts, '%Y/%m/%d')
                  ELSE strftime(ts, '%Y/%m/%d %H:%M:%S') END AS ts_str,
             CASE WHEN event_id % 97 = 0 THEN 'not-a-number'
                  WHEN event_id % 89 = 0 THEN ''
                  ELSE CAST(value AS VARCHAR) END AS val_str,
             CASE WHEN event_id % 13 = 0 THEN '' ELSE event_type END AS type_str
      FROM events
    )
    SELECT event_id,
           COALESCE(try_strptime(ts_str, '%Y/%m/%d %H:%M:%S'),
                    try_strptime(ts_str, '%Y/%m/%d')) AS ts_parsed,
           TRY_CAST(NULLIF(val_str, '') AS DOUBLE) AS val_parsed,
           NULLIF(type_str, '') AS type_parsed
    FROM raw
    WHERE NOT (NULLIF(trim(val_str), '') IS NULL
               AND NULLIF(trim(type_str), '') IS NULL)
    """,
    description="Reference silver-zone casts: two-format timestamp parse with "
    "fallback, float parse null-on-error, empty-string->null, and the "
    "all-blank row filter (P2/P3/F2/F3).",
    tags=("cast", "parity"),
)
def typed_cast_null_on_error(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    raw = ev.select(
        "event_id",
        F.when(
            F.col("event_id") % 2 == 0, F.date_format("ts", "yyyy/MM/dd")
        )
        .otherwise(F.date_format("ts", "yyyy/MM/dd HH:mm:ss"))
        .alias("ts_str"),
        F.when(F.col("event_id") % 97 == 0, F.lit("not-a-number"))
        .when(F.col("event_id") % 89 == 0, F.lit(""))
        .otherwise(F.col("value").cast("string"))
        .alias("val_str"),
        F.when(F.col("event_id") % 13 == 0, F.lit("")).otherwise(
            F.col("event_type")
        ).alias("type_str"),
    )
    parsed = raw.select(
        "event_id",
        F.coalesce(
            F.try_to_timestamp("ts_str", F.lit("yyyy/MM/dd HH:mm:ss")),
            F.try_to_timestamp("ts_str", F.lit("yyyy/MM/dd")),
        ).alias("ts_parsed"),
        # try_cast, NOT cast: the driver runs a bare Spark 4 session where
        # ANSI mode is ON by default, so CAST('not-a-number' AS DOUBLE) would
        # throw CAST_INVALID_INPUT. try_cast yields NULL — the reference's
        # null-on-error float parse (preprocess_to_staging.py:35-63, F3).
        F.nullif("val_str", F.lit("")).try_cast("double").alias("val_parsed"),
        F.nullif("type_str", F.lit("")).alias("type_parsed"),
        "val_str",
        "type_str",
    )
    kept = parsed.filter(
        ~(
            F.nullif(F.trim("val_str"), F.lit("")).isNull()
            & F.nullif(F.trim("type_str"), F.lit("")).isNull()
        )
    )
    return kept.select("event_id", "ts_parsed", "val_parsed", "type_parsed")


# ---------------------------------------------------------------------------
# Rollup — multi-level aggregate (engine capability beyond the reference's
# single global mean; SURVEY.md §2.4 notes the reference has no group-by at
# all, so this is pure added surface).
# ---------------------------------------------------------------------------


@register(
    "orders_rollup",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
           CAST(ROUND(sum(CAST(o_totalprice AS DECIMAL(25,2))), 4) AS DOUBLE)
             AS total_price
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    description="ROLLUP over (status, priority) with exact decimal totals — "
    "hierarchical aggregate in one pass.",
    tags=("aggregate", "rollup"),
)
def orders_rollup(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum(dec("o_totalprice", *PRICE)), 4).cast("double").alias(
            "total_price"
        ),
    )


# ---------------------------------------------------------------------------
# Exact percentiles (sort-based aggregate class; linear interpolation).
# ---------------------------------------------------------------------------


@register(
    "value_percentiles_by_type",
    oracle="""
    SELECT event_type,
           CAST(ROUND(quantile_cont(value, 0.50), 6) AS DOUBLE) AS p50,
           CAST(ROUND(quantile_cont(value, 0.90), 6) AS DOUBLE) AS p90,
           CAST(ROUND(quantile_cont(value, 0.99), 6) AS DOUBLE) AS p99
    FROM events
    WHERE value IS NOT NULL
    GROUP BY event_type
    """,
    description="Exact interpolated p50/p90/p99 of event value per type "
    "(sort-based aggregate; Spark percentile() and DuckDB quantile_cont "
    "share the linear-interpolation definition). Exact percentiles sort "
    "per group — at 100 TB swap in approx_percentile (t-digest, "
    "mergeable, one pass).",
    tags=("aggregate", "percentile"),
)
def value_percentiles_by_type(spark, sf_dir):
    ev = T(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.50)"), 6).cast("double").alias("p50"),
        F.round(F.expr("percentile(value, 0.90)"), 6).cast("double").alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).cast("double").alias("p99"),
    )


# ---------------------------------------------------------------------------
# Min-per-group membership (correlated scalar subquery -> window form).
# ---------------------------------------------------------------------------


@register(
    "cheapest_part_per_size",
    oracle="""
    SELECT p_partkey, p_name, p_size, p_retailprice
    FROM part p
    WHERE p_retailprice = (
      SELECT min(p2.p_retailprice) FROM part p2 WHERE p2.p_size = p.p_size
    )
    """,
    description="Parts at their size-class minimum price: the correlated "
    "scalar subquery decorrelates to a per-group window min — one shuffle "
    "on p_size, no join (Catalyst's RewriteCorrelatedScalarSubquery does "
    "the same to the SQL form).",
    tags=("window", "subquery", "aggregate"),
)
def cheapest_part_per_size(spark, sf_dir):
    from pyspark.sql import Window

    p = T(spark, sf_dir, "part")
    w = Window.partitionBy("p_size")
    return (
        p.withColumn("_min_price", F.min("p_retailprice").over(w))
        .filter(F.col("p_retailprice") == F.col("_min_price"))
        .select("p_partkey", "p_name", "p_size", "p_retailprice")
    )


# ---------------------------------------------------------------------------
# One-pass column profile (the lakehouse data-quality scan).
# ---------------------------------------------------------------------------

_PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount"]


def _profile_oracle() -> str:
    parts = []
    for c in _PROFILE_COLS:
        parts.append(f"""
        SELECT '{c}' AS col_name, count(*) AS n_rows,
               count(*) - count({c}) AS n_null,
               CAST(min({c}) AS DOUBLE) AS min_v,
               CAST(max({c}) AS DOUBLE) AS max_v,
               count(DISTINCT {c}) AS n_distinct
        FROM lineitem""")
    return " UNION ALL ".join(parts)


@register(
    "table_profile_lineitem",
    oracle=_profile_oracle(),
    description="Column profile (rows, nulls, min/max, exact distinct) for "
    "three lineitem columns in ONE scan: all aggregates computed together, "
    "then unpivoted with stack(). At 100 TB exact distinct is the costly "
    "one — swap in approx_count_distinct (HLL, mergeable) and the scan "
    "stays single-pass.",
    tags=("aggregate", "profile", "quality"),
)
def table_profile_lineitem(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count("*").alias(f"{c}__n"),
            (F.count("*") - F.count(c)).alias(f"{c}__null"),
            F.min(c).cast("double").alias(f"{c}__min"),
            F.max(c).cast("double").alias(f"{c}__max"),
            F.countDistinct(c).alias(f"{c}__nd"),
        ]
    one = li.agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__n, {c}__null, {c}__min, {c}__max, {c}__nd"
        for c in _PROFILE_COLS
    )
    return one.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack}) AS "
            "(col_name, n_rows, n_null, min_v, max_v, n_distinct)"
        )
    )


@register(
    "distinct_users_per_day",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           count(DISTINCT user_id) AS n_users,
           count(*) AS n_events
    FROM events
    GROUP BY date_trunc('day', ts)
    """,
    description="Exact daily active users (count-distinct shuffles on "
    "(day, user) then regroups; at 100 TB approx_count_distinct keeps it "
    "one mergeable pass).",
    tags=("aggregate", "distinct"),
)
def distinct_users_per_day(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    return ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# JSON extraction from a string column (semi-structured payloads).
# ---------------------------------------------------------------------------


@register(
    "json_props_extract",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
             AS sum_k,
           CAST(min(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
             AS min_k,
           CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
             AS max_k
    FROM events
    WHERE props IS NOT NULL
    GROUP BY event_type
    """,
    description="Semi-structured payloads: parse the JSON props column with "
    "from_json into a typed struct and aggregate an extracted field. "
    "from_json beats per-field get_json_object when several fields are "
    "needed (one parse per row, not per field).",
    tags=("json", "aggregate", "semi-structured"),
)
def json_props_extract(spark, sf_dir):
    from pyspark.sql import types as T_

    ev = T(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    schema = T_.StructType([T_.StructField("k", T_.LongType())])
    parsed = ev.withColumn("p", F.from_json("props", schema))
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("p.k").alias("sum_k"),
        F.min("p.k").alias("min_k"),
        F.max("p.k").alias("max_k"),
    )


@register(
    "approx_stats_scale_path",
    # Sketch VALUES (HLL registers, KLL summaries) are engine-specific by
    # construction, so raw sketch output can never hash-match DuckDB.
    # Bound-style oracle instead (the ann_lsh_recall_audit pattern,
    # VERDICT r3 #3): the exact columns are hash-checked, and the approx
    # columns are checked AS BOUNDS — Spark compares its own sketch
    # output against its own exact statistics inside the query and emits
    # booleans; the oracle pins them as literal TRUE. A sketch that
    # drifts outside its error envelope flips a boolean and fails the
    # hash. Bounds: HLL rsd=0.02 checked at 10% (5 sigma); percentile
    # sketch rank-eps=1e-4 checked against the exact +/-0.02-rank value
    # window.
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS users_ok,
           TRUE AS p50_ok,
           TRUE AS p90_ok,
           TRUE AS p99_ok
    FROM events
    GROUP BY event_type
    """,
    description="The 100 TB scale path for distinct counts and percentiles: "
    "approx_count_distinct (HLL) and approx_percentile per event type — "
    "one mergeable pass, no sort, no (day,user) expansion. Oracle-checked "
    "in bound form: exact columns hash-checked, sketch columns verified "
    "to sit inside their error envelopes (booleans pinned TRUE).",
    tags=("aggregate", "approx", "sketch"),
)
def approx_stats_scale_path(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
        F.expr("approx_percentile(value, array(0.5, 0.9, 0.99), 10000)").alias(
            "ap"
        ),
        F.countDistinct("user_id").alias("exact_users"),
        F.expr(
            "percentile(value, array(0.48, 0.52, 0.88, 0.92, 0.97, 1.0))"
        ).alias("ep"),
        F.count("*").alias("n"),
    )

    def _within(lo, x, hi):
        return F.coalesce((lo <= x) & (x <= hi), F.lit(True))

    return agg.select(
        "event_type",
        "n",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= F.lit(0.10) * F.col("exact_users")
        ).alias("users_ok"),
        _within(F.col("ep")[0], F.col("ap")[0], F.col("ep")[1]).alias(
            "p50_ok"
        ),
        _within(F.col("ep")[2], F.col("ap")[1], F.col("ep")[3]).alias(
            "p90_ok"
        ),
        _within(F.col("ep")[4], F.col("ap")[2], F.col("ep")[5]).alias(
            "p99_ok"
        ),
    )


@register(
    "orders_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(25,2))) AS DOUBLE)
             AS total_price,
           grouping(o_orderstatus) AS g_status,
           grouping(o_orderpriority) AS g_priority
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus), (o_orderpriority), ())
    """,
    description="Explicit GROUPING SETS over (status, priority) — all four "
    "combinations in one pass with grouping() flags disambiguating the "
    "null rows (rollup/cube's general form; one shuffle, expand-then-agg).",
    tags=("aggregate", "grouping-sets"),
)
def orders_grouping_sets(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    o.createOrReplaceTempView("_ogs_orders")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
               CAST(sum(CAST(o_totalprice AS DECIMAL(25,2))) AS DOUBLE)
                 AS total_price,
               grouping(o_orderstatus) AS g_status,
               grouping(o_orderpriority) AS g_priority
        FROM _ogs_orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), (o_orderpriority), ())
    """)


@register(
    "lineitem_unpivot_measures",
    oracle="""
    SELECT l_orderkey, l_linenumber, measure,
           CAST(val AS DOUBLE) AS val
    FROM (
      SELECT l_orderkey, l_linenumber, 'quantity' AS measure,
             l_quantity AS val FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice
      FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
    )
    WHERE l_orderkey <= 1000
    """,
    description="Unpivot (melt): three lineitem measures to tall "
    "(key, measure, value) form with df.unpivot — the inverse of pivot, "
    "one scan, no shuffle (filtered to a key range to keep the oracle "
    "comparison bounded).",
    tags=("unpivot", "reshape"),
)
def lineitem_unpivot_measures(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 1000)
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "measure",
        "val",
    ).withColumn(
        "measure",
        F.expr(
            "CASE measure WHEN 'l_quantity' THEN 'quantity' "
            "WHEN 'l_extendedprice' THEN 'extendedprice' "
            "ELSE 'discount' END"
        ),
    ).select("l_orderkey", "l_linenumber", "measure", F.col("val").cast("double"))


@register(
    "daily_event_type_set",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           array_to_string(list_sort(list(DISTINCT event_type)), ',')
             AS types_seen,
           count(DISTINCT event_type) AS n_types
    FROM events
    GROUP BY date_trunc('day', ts)
    """,
    description="Set aggregation with deterministic output: distinct event "
    "types per day collected, sorted, and joined to a string "
    "(sort_array(collect_set) — collection order is partition-dependent, "
    "the sort makes it comparable).",
    tags=("aggregate", "collect", "array"),
)
def daily_event_type_set(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    return ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.concat_ws(",", F.sort_array(F.collect_set("event_type"))).alias(
            "types_seen"
        ),
        F.countDistinct("event_type").alias("n_types"),
    )


@register(
    "value_histogram_by_type",
    oracle="""
    WITH bounds AS (
      SELECT min(value) AS lo, max(value) AS hi FROM events
      WHERE value IS NOT NULL
    )
    SELECT event_type,
           CAST(least(floor((value - (SELECT lo FROM bounds))
                 / ((SELECT hi FROM bounds) - (SELECT lo FROM bounds)) * 10),
               9) AS INT) AS bucket,
           count(*) AS n
    FROM events
    WHERE value IS NOT NULL
    GROUP BY event_type, bucket
    """,
    description="10-bin value histogram per event type over the global "
    "min/max (scalar-subquery bounds folded into the binning expression — "
    "identical double arithmetic on both engines; the max value clamps "
    "into the last bin); one scan + one grouped aggregate.",
    tags=("aggregate", "histogram"),
)
def value_histogram_by_type(spark, sf_dir):
    ev = T(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    lo, hi = ev.agg(F.min("value"), F.max("value")).collect()[0]  # scale-ok: 1-row min/max
    bucket = F.expr(
        f"CAST(least(floor((value - ({lo!r})) / (({hi!r}) - ({lo!r})) * 10), 9) AS INT)"
    )
    return ev.groupBy("event_type", bucket.alias("bucket")).agg(
        F.count("*").alias("n")
    )


@register(
    "referential_integrity_check",
    oracle="""
    SELECT 'lineitem_without_order' AS violation, count(*) AS n FROM (
      SELECT l_orderkey FROM lineitem
      EXCEPT SELECT o_orderkey FROM orders
    )
    UNION ALL
    SELECT 'order_without_customer', count(*) FROM (
      SELECT o_custkey FROM orders EXCEPT SELECT c_custkey FROM customer
    )
    UNION ALL
    SELECT 'customer_without_nation', count(*) FROM (
      SELECT c_nationkey FROM customer EXCEPT SELECT n_nationkey FROM nation
    )
    """,
    description="Referential-integrity audit: orphaned foreign keys across "
    "three relationships via anti joins on the distinct key sets (the "
    "data-quality gate a lakehouse runs after every load).",
    tags=("anti-join", "quality", "audit"),
)
def referential_integrity_check(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation")
    checks = [
        ("lineitem_without_order",
         li.select("l_orderkey").distinct().join(
             o.select("o_orderkey"),
             li.l_orderkey == o.o_orderkey, "left_anti")),
        ("order_without_customer",
         o.select("o_custkey").distinct().join(
             c.select("c_custkey"), o.o_custkey == c.c_custkey, "left_anti")),
        ("customer_without_nation",
         c.select("c_nationkey").distinct().join(
             n.select("n_nationkey"),
             c.c_nationkey == n.n_nationkey, "left_anti")),
    ]
    out = None
    for name, df in checks:
        row = df.agg(F.count("*").alias("n")).select(
            F.lit(name).alias("violation"), "n"
        )
        out = row if out is None else out.unionByName(row)
    return out


@register(
    "supplier_diversity_by_brand",
    oracle="""
    SELECT p.p_brand, count(DISTINCT l.l_suppkey) AS n_suppliers,
           count(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_size >= 25
    GROUP BY p.p_brand
    """,
    description="Distinct suppliers serving each brand's large parts "
    "(TPC-H Q16 shape without partsupp): broadcast dim join then a "
    "distinct aggregate — the distinct expands to (brand, suppkey) grain "
    "before the final regroup.",
    tags=("join", "distinct", "aggregate"),
)
def supplier_diversity_by_brand(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    p = T(spark, sf_dir, "part").filter(F.col("p_size") >= 25)
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.count("*").alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Salted join, verified against the plain-join oracle: proof at the query
# level that salting is a pure physical rewrite (operators/skew.py).
# ---------------------------------------------------------------------------


@register(
    "salted_join_user_profile",
    oracle="""
    WITH dim AS (
      SELECT user_id, min(ts) AS first_ts, count(*) AS n_events
      FROM events GROUP BY user_id
    )
    SELECT e.event_id, e.user_id, e.event_type, d.first_ts, d.n_events
    FROM events e JOIN dim d ON d.user_id = e.user_id
    """,
    description="Fact (events) joined to a per-user profile dim through "
    "salted_join (8 salts): the fact side gets a deterministic salt, the "
    "dim side explodes once per salt, and the equi-join runs on "
    "(user_id, salt) so a hot user spreads over 8 tasks. The oracle is the "
    "PLAIN join — salting must be invisible in the result, which is the "
    "operator's correctness contract (it is unit-tested for how-restriction "
    "separately; this pins row-level equivalence).",
    tags=("join", "skew", "salting"),
)
def salted_join_user_profile(spark, sf_dir):
    from datalakes_and_data_integration_spark.operators.skew import salted_join

    ev = T(spark, sf_dir, "events")
    dim = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"), F.count("*").alias("n_events")
    )
    fact = ev.select("event_id", "user_id", "event_type")
    return salted_join(fact, dim, on="user_id", salt_count=8)


# ---------------------------------------------------------------------------
# Fuzzy entity matching: supplier-name pairs within edit distance 2. The
# blocking is COMPLETE for the predicate (levenshtein <= 2 implies length
# difference <= 2), so the Spark side's length-bucket candidate join is a
# pure optimization against the oracle's O(n^2) form. At 100 TB, fixed-
# width keys degenerate length blocking to one bucket — the full scale
# path is position-aware segment blocking (PassJoin-style, the same
# pigeonhole as the simhash bands); length blocking is the first tier.
# ---------------------------------------------------------------------------

_FUZZY_MAX_DIST = 1


@register(
    "fuzzy_name_match",
    oracle=f"""
    SELECT a.s_suppkey AS suppkey_a, b.s_suppkey AS suppkey_b,
           a.s_name AS name_a, b.s_name AS name_b,
           levenshtein(a.s_name, b.s_name) AS edit_distance
    FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
    WHERE levenshtein(a.s_name, b.s_name) <= {_FUZZY_MAX_DIST}
    """,
    description=f"Edit-distance entity matching (levenshtein <= "
    f"{_FUZZY_MAX_DIST}) over supplier names: candidates come from an "
    "equi-join on length buckets (one side explodes its +-2 length "
    "range — complete, because the distance bound caps length drift), "
    "then the exact distance verifies. The oracle is the unblocked "
    "quadratic form.",
    tags=("join", "fuzzy", "entity-resolution"),
)
def fuzzy_name_match(spark, sf_dir):
    s = T(spark, sf_dir, "supplier")
    a = s.select(
        F.col("s_suppkey").alias("suppkey_a"),
        F.col("s_name").alias("name_a"),
        F.explode(
            F.array(
                *[
                    F.length("s_name") + F.lit(d)
                    for d in range(-_FUZZY_MAX_DIST, _FUZZY_MAX_DIST + 1)
                ]
            )
        ).alias("lb"),
    )
    b = s.select(
        F.col("s_suppkey").alias("suppkey_b"),
        F.col("s_name").alias("name_b"),
        F.length("s_name").alias("lb"),
    )
    cand = a.join(b, "lb").filter(F.col("suppkey_a") < F.col("suppkey_b"))
    dist = F.levenshtein("name_a", "name_b")
    return (
        cand.withColumn("edit_distance", dist)
        .filter(F.col("edit_distance") <= _FUZZY_MAX_DIST)
        .select(
            "suppkey_a", "suppkey_b", "name_a", "name_b", "edit_distance"
        )
    )


# ---------------------------------------------------------------------------
# Winsorized statistics: per-type mean/min/max after clipping values to the
# [p01, p99] NEAREST-RANK percentiles. Nearest-rank (value at row
# ceil(p * n) of the sorted order) is integer-deterministic — no
# interpolation arithmetic to disagree on — and the clipped mean routes
# through DECIMAL. The outlier-robust summary a feature pipeline computes
# before normalization.
# ---------------------------------------------------------------------------

_WINSOR_LO = 0.01
_WINSOR_HI = 0.99


@register(
    "winsorized_stats_by_type",
    oracle=f"""
    WITH ranked AS (
      SELECT event_type, value,
             row_number() OVER (
               PARTITION BY event_type ORDER BY value, event_id
             ) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ),
    cuts AS (
      SELECT event_type,
             max(CASE WHEN rn = CAST(ceil({_WINSOR_LO} * n) AS BIGINT)
                      THEN value END) AS p_lo,
             max(CASE WHEN rn = CAST(ceil({_WINSOR_HI} * n) AS BIGINT)
                      THEN value END) AS p_hi
      FROM ranked GROUP BY event_type
    )
    SELECT e.event_type,
           c.p_lo, c.p_hi,
           count(*) AS n,
           CAST(sum(CASE WHEN e.value < c.p_lo OR e.value > c.p_hi
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
           CAST(ROUND(sum(CAST(least(greatest(e.value, c.p_lo), c.p_hi)
                               AS DECIMAL(27,12))) / count(*), 6) AS DOUBLE)
             AS winsorized_mean
    FROM events e JOIN cuts c ON c.event_type = e.event_type
    GROUP BY e.event_type, c.p_lo, c.p_hi
    """,
    description="Per-type winsorized mean with nearest-rank p01/p99 cut "
    "points (value at row ceil(p*n) — integer-deterministic, no "
    "interpolation): one ranking window per type, the 5-row cut table "
    "broadcast back, clipped sum through DECIMAL. The outlier-robust "
    "pre-normalization summary.",
    tags=("aggregate", "percentile", "robust"),
)
def winsorized_stats_by_type(spark, sf_dir):
    from pyspark.sql import Window

    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    cuts = ranked.groupBy("event_type").agg(
        F.max(
            F.when(
                F.col("rn")
                == F.ceil(F.lit(_WINSOR_LO) * F.col("n")).cast("long"),
                F.col("value"),
            )
        ).alias("p_lo"),
        F.max(
            F.when(
                F.col("rn")
                == F.ceil(F.lit(_WINSOR_HI) * F.col("n")).cast("long"),
                F.col("value"),
            )
        ).alias("p_hi"),
    )
    clipped = ev.join(F.broadcast(cuts), "event_type").select(
        "event_type",
        "p_lo",
        "p_hi",
        "value",
        F.least(F.greatest(F.col("value"), F.col("p_lo")), F.col("p_hi")).alias(
            "cv"
        ),
    )
    return clipped.groupBy("event_type", "p_lo", "p_hi").agg(
        F.count("*").alias("n"),
        F.sum(
            F.when(
                (F.col("value") < F.col("p_lo"))
                | (F.col("value") > F.col("p_hi")),
                1,
            ).otherwise(0)
        ).alias("n_clipped"),
        (
            F.round(
                F.sum(F.expr("CAST(cv AS DECIMAL(27,12))")) / F.count("*"), 6
            )
        )
        .cast("double")
        .alias("winsorized_mean"),
    )


# ---------------------------------------------------------------------------
# Join-key skew diagnostics: the report you run BEFORE choosing between a
# plain shuffle join, AQE skew splitting, and salting (operators/skew.py).
# Pure grouped aggregates — no global window, no sort: key frequencies,
# concentration (Herfindahl = sum of squared frequency shares,
# decimal-routed), and the max/mean skew ratio that sizes the salt count.
# ---------------------------------------------------------------------------


@register(
    "join_key_skew_report",
    oracle="""
    WITH freq AS (
      SELECT user_id, count(*) AS f FROM events GROUP BY user_id
    ),
    tot AS (
      SELECT count(*) AS n_keys, CAST(sum(f) AS BIGINT) AS n_rows,
             max(f) AS max_freq
      FROM freq
    )
    SELECT t.n_keys, t.n_rows, t.max_freq,
           CAST(ROUND(CAST(CAST(t.max_freq AS DOUBLE) / t.n_rows
                           AS DECIMAL(27,12)), 6) AS DOUBLE) AS top1_share,
           CAST(ROUND(CAST(CAST(t.max_freq AS DOUBLE) * t.n_keys / t.n_rows
                           AS DECIMAL(27,12)), 6) AS DOUBLE) AS skew_ratio,
           CAST(ROUND(sum(CAST((CAST(f.f AS DOUBLE) / t.n_rows)
                               * (CAST(f.f AS DOUBLE) / t.n_rows)
                               AS DECIMAL(27,18))), 9) AS DOUBLE)
             AS herfindahl
    FROM freq f CROSS JOIN tot t
    GROUP BY t.n_keys, t.n_rows, t.max_freq
    """,
    description="Join-key skew report for events.user_id: key count, row "
    "count, hottest-key frequency and share, max/mean skew ratio (the "
    "salt-count sizing input), and the Herfindahl concentration index "
    "(decimal-routed sum of squared shares). Two grouped aggregates, "
    "zero sorts/windows — runs on any key column at any scale.",
    tags=("skew", "diagnostics", "aggregate"),
)
def join_key_skew_report(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    freq = ev.groupBy("user_id").agg(F.count("*").alias("f"))
    tot = freq.agg(
        F.count("*").alias("n_keys"),
        F.sum("f").alias("n_rows"),
        F.max("f").alias("max_freq"),
    )
    share = F.col("f").cast("double") / F.col("n_rows")
    return (
        freq.crossJoin(F.broadcast(tot))  # scale-ok: 1-row totals
        .groupBy("n_keys", "n_rows", "max_freq")
        .agg(
            F.round(
                F.sum(
                    (share * share).cast("decimal(27,18)")
                ),
                9,
            )
            .cast("double")
            .alias("herfindahl"),
        )
        .select(
            "n_keys",
            "n_rows",
            "max_freq",
            r6(F.col("max_freq").cast("double") / F.col("n_rows"))
            .alias("top1_share"),
            r6(
                F.col("max_freq").cast("double")
                * F.col("n_keys")
                / F.col("n_rows")
            ).alias("skew_ratio"),
            "herfindahl",
        )
    )


# ---------------------------------------------------------------------------
# Box-plot statistics: nearest-rank quartiles, IQR fences, and outlier
# counts per event type — the profiler output a quality dashboard draws.
# Same integer-deterministic nearest-rank machinery as the winsorized
# stats; fence comparisons are pure double arithmetic written identically.
# ---------------------------------------------------------------------------


@register(
    "boxplot_stats_by_type",
    oracle="""
    WITH ranked AS (
      SELECT event_type, value,
             row_number() OVER (
               PARTITION BY event_type ORDER BY value, event_id
             ) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ),
    cuts AS (
      SELECT event_type,
             max(CASE WHEN rn = CAST(ceil(0.25 * n) AS BIGINT)
                      THEN value END) AS q1,
             max(CASE WHEN rn = CAST(ceil(0.50 * n) AS BIGINT)
                      THEN value END) AS median,
             max(CASE WHEN rn = CAST(ceil(0.75 * n) AS BIGINT)
                      THEN value END) AS q3
      FROM ranked GROUP BY event_type
    )
    SELECT e.event_type, c.q1, c.median, c.q3,
           count(*) AS n,
           CAST(sum(CASE WHEN e.value < c.q1 - 1.5 * (c.q3 - c.q1)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_low_outliers,
           CAST(sum(CASE WHEN e.value > c.q3 + 1.5 * (c.q3 - c.q1)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_high_outliers
    FROM events e JOIN cuts c ON c.event_type = e.event_type
    GROUP BY e.event_type, c.q1, c.median, c.q3
    """,
    description="Box-plot profile per event type: nearest-rank quartiles "
    "(value at row ceil(p*n) — integer-deterministic), 1.5-IQR Tukey "
    "fences, and outlier counts — one ranking window plus a broadcast "
    "5-row cut table. The quality-dashboard profiler output.",
    tags=("aggregate", "percentile", "profiling"),
)
def boxplot_stats_by_type(spark, sf_dir):
    from pyspark.sql import Window

    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )

    def cut(p, name):
        return F.max(
            F.when(
                F.col("rn") == F.ceil(F.lit(p) * F.col("n")).cast("long"),
                F.col("value"),
            )
        ).alias(name)

    cuts = ranked.groupBy("event_type").agg(
        cut(0.25, "q1"), cut(0.50, "median"), cut(0.75, "q3")
    )
    iqr = F.col("q3") - F.col("q1")
    lo = F.col("q1") - 1.5 * iqr
    hi = F.col("q3") + 1.5 * iqr
    return (
        ev.join(F.broadcast(cuts), "event_type")
        .groupBy("event_type", "q1", "median", "q3")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("value") < lo, 1).otherwise(0)).alias(
                "n_low_outliers"
            ),
            F.sum(F.when(F.col("value") > hi, 1).otherwise(0)).alias(
                "n_high_outliers"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit: the classic fabricated-data / corruption
# smell test over order totals. Expected shares are ln(1+1/d)/ln(10)
# precomputed as Python float literals (no runtime log on the data
# path); the deviation statistic sums over 9 cells through DECIMAL.
# ---------------------------------------------------------------------------

_BENFORD_P = [0.0] + [__import__("math").log10(1 + 1 / d) for d in range(1, 10)]


@register(
    "benford_first_digit",
    oracle=f"""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                  AS BIGINT) AS d
      FROM orders WHERE o_totalprice >= 1
    ),
    counts AS (SELECT d, count(*) AS n FROM digits GROUP BY d),
    tot AS (SELECT sum(n) AS total FROM counts)
    SELECT c.d AS first_digit, c.n,
           CAST(ROUND(CAST(CAST(c.n AS DOUBLE) / t.total
                           AS DECIMAL(27,12)), 6) AS DOUBLE) AS observed,
           CAST(CASE c.d {" ".join(f"WHEN {d} THEN {p!r}" for d, p in enumerate(_BENFORD_P) if d > 0)}
           END AS DOUBLE) AS expected
    FROM counts c CROSS JOIN tot t
    """,
    description="Benford's-law first-digit audit over order totals: "
    "observed share per leading digit (decimal-routed) vs the "
    "ln(1+1/d)/ln(10) expectation baked as identical float literals. "
    "One grouped count over the integer part's first digit — the "
    "fabricated-data smell test a data-quality suite ships with.",
    tags=("profiling", "benford", "quality"),
)
def benford_first_digit(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    digits = o.filter(F.col("o_totalprice") >= 1).select(
        F.expr(
            "CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS STRING), 1, 1) AS BIGINT)"
        ).alias("d")
    )
    counts = digits.groupBy("d").agg(F.count("*").alias("n"))
    tot = counts.agg(F.sum("n").alias("total"))
    expected = F.create_map(
        *[
            x
            for d, p in enumerate(_BENFORD_P)
            if d > 0
            for x in (F.lit(d), F.lit(p))
        ]
    )
    return (
        counts.crossJoin(F.broadcast(tot))  # scale-ok: 1-row total
        .select(
            F.col("d").alias("first_digit"),
            "n",
            r6(F.col("n").cast("double") / F.col("total")).alias("observed"),
            expected[F.col("d")].alias("expected"),
        )
    )


# ---------------------------------------------------------------------------
# Catalog-wide null audit: every column of every table in the lake, one
# row each — the completeness sweep a nightly data-quality job publishes.
# One single-pass aggregate per table (no per-column scans), unpivoted
# long-form. Column lists are pinned (schema drift would surface as a
# row-count change here before it breaks a downstream query).
# ---------------------------------------------------------------------------

_CATALOG_COLUMNS = {
    "region": ["r_regionkey", "r_name"],
    "nation": ["n_nationkey", "n_name", "n_regionkey"],
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    "supplier": ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
    "part": ["p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"],
    "orders": ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"],
    "events": ["event_id", "ts", "user_id", "event_type", "value", "props"],
    "documents": ["doc_id", "text", "lang", "source", "n_chars"],
    "embeddings": ["vec_id", "embedding", "label"],
}


def _catalog_nulls_oracle() -> str:
    parts = []
    for t, cols in _CATALOG_COLUMNS.items():
        sel = ", ".join(
            f"count(*) - count({c}) AS null_{c}" for c in cols
        )
        unpivot = " UNION ALL ".join(
            f"SELECT '{t}' AS table_name, '{c}' AS col_name, n AS n_rows, "
            f"null_{c} AS n_null FROM agg_{t}"
            for c in cols
        )
        parts.append(
            f"agg_{t} AS (SELECT count(*) AS n, {sel} FROM {t})"
        )
        parts.append(f"rows_{t} AS ({unpivot})")
    withs = ",\n    ".join(parts)
    union = " UNION ALL ".join(
        f"SELECT * FROM rows_{t}" for t in _CATALOG_COLUMNS
    )
    return f"""
    WITH {withs}
    SELECT table_name, col_name, n_rows, n_null,
           CAST(ROUND(CAST(CASE WHEN n_rows > 0
                                THEN CAST(n_null AS DOUBLE) / n_rows
                                ELSE 0.0 END AS DECIMAL(27,12)), 6)
                AS DOUBLE) AS null_frac
    FROM ({union})
    """


@register(
    "catalog_null_audit",
    oracle=_catalog_nulls_oracle(),
    description="Catalog-wide completeness: (table, column, rows, nulls, "
    "null fraction) for every column of all ten lake tables — one "
    "single-pass aggregate per table, stack()-unpivoted, decimal-routed "
    "fractions. The nightly data-quality sweep; pinned column lists make "
    "schema drift visible as a row-count change.",
    tags=("profiling", "quality", "catalog"),
)
def catalog_null_audit(spark, sf_dir):
    frames = []
    for t, cols in _CATALOG_COLUMNS.items():
        df = T(spark, sf_dir, t)
        aggs = [F.count("*").alias("n")] + [
            (F.count("*") - F.count(c)).alias(f"null_{c}") for c in cols
        ]
        one = df.agg(*aggs)
        stack = ", ".join(f"'{c}', null_{c}" for c in cols)
        frames.append(
            one.select(
                F.lit(t).alias("table_name"),
                F.expr(
                    f"stack({len(cols)}, {stack}) AS (col_name, n_null)"
                ),
                F.col("n").alias("n_rows"),
            ).select("table_name", "col_name", "n_rows", "n_null")
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    frac = F.when(
        F.col("n_rows") > 0,
        F.col("n_null").cast("double") / F.col("n_rows"),
    ).otherwise(F.lit(0.0))
    return out.select(
        "table_name",
        "col_name",
        "n_rows",
        "n_null",
        r6(frac).alias("null_frac"),
    )


# ---------------------------------------------------------------------------
# Semi-structured schema discovery: key-level profile of the props JSON
# column — which keys exist, how often, their distinct-value counts and
# numeric ranges. json_props_extract pulls KNOWN keys; this is the
# discovery pass that finds out what the keys ARE (the first step of
# onboarding an untyped event feed).
# ---------------------------------------------------------------------------


@register(
    "props_schema_profile",
    oracle="""
    WITH kv AS (
      SELECT unnest(json_keys(props)) AS k,
             json_extract_string(props, '$.' || unnest(json_keys(props)))
               AS v
      FROM events WHERE props IS NOT NULL
    )
    SELECT k AS key_name,
           count(*) AS n_present,
           count(DISTINCT v) AS n_distinct_values,
           min(TRY_CAST(v AS DOUBLE)) AS min_numeric,
           max(TRY_CAST(v AS DOUBLE)) AS max_numeric,
           CAST(sum(CASE WHEN TRY_CAST(v AS DOUBLE) IS NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_non_numeric
    FROM kv GROUP BY k
    """,
    description="JSON key discovery over events.props: per key, presence "
    "count, distinct values, numeric range, and non-numeric count — "
    "from_json to a map + one explode + one grouped aggregate. The "
    "schema-inference pass that precedes typed extraction "
    "(json_props_extract).",
    tags=("json", "semi-structured", "profiling"),
)
def props_schema_profile(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    kv = (
        ev.filter(F.col("props").isNotNull())
        .select(
            F.explode(
                F.from_json("props", "map<string,string>")
            ).alias("k", "v")
        )
    )
    num = F.expr("try_cast(v AS DOUBLE)")
    return kv.groupBy(F.col("k").alias("key_name")).agg(
        F.count("*").alias("n_present"),
        F.countDistinct("v").alias("n_distinct_values"),
        F.min(num).alias("min_numeric"),
        F.max(num).alias("max_numeric"),
        F.sum(F.when(num.isNull(), 1).otherwise(0)).alias("n_non_numeric"),
    )


# ---------------------------------------------------------------------------
# Market-basket co-occurrence: brand pairs bought in the same order.
# Self-join on the order key — per-order fan-out is lines^2, bounded by
# the ~7-line order size regardless of corpus scale, so the pair table
# grows linearly with orders. The association-mining support table.
# ---------------------------------------------------------------------------


@register(
    "market_basket_brand_pairs",
    oracle="""
    WITH lines AS (
      SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    pairs AS (
      SELECT a.brand AS brand_a, b.brand AS brand_b, count(*) AS n_orders
      FROM lines a JOIN lines b
        ON a.okey = b.okey AND a.brand < b.brand
      GROUP BY a.brand, b.brand
    ),
    tot AS (SELECT count(DISTINCT okey) AS n FROM lines)
    SELECT p.brand_a, p.brand_b, p.n_orders,
           CAST(ROUND(CAST(CAST(p.n_orders AS DOUBLE) / t.n
                           AS DECIMAL(27,12)), 6) AS DOUBLE) AS support
    FROM pairs p CROSS JOIN tot t
    """,
    description="Brand-pair market basket: distinct (order, brand) pairs "
    "self-joined on the order key (fan-out bounded by order size, never "
    "corpus size), pair counts and decimal-routed support. The "
    "association-rule support table; the dim join broadcasts.",
    tags=("join", "basket", "aggregate"),
)
def market_basket_brand_pairs(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    p = T(spark, sf_dir, "part")
    lines = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand"))
        .distinct()
    )
    a = lines.alias("a")
    b = lines.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.okey") == F.col("b.okey"))
            & (F.col("a.brand") < F.col("b.brand")),
        )
        .groupBy(
            F.col("a.brand").alias("brand_a"),
            F.col("b.brand").alias("brand_b"),
        )
        .agg(F.count("*").alias("n_orders"))
    )
    tot = lines.agg(F.countDistinct("okey").alias("n"))
    return pairs.crossJoin(F.broadcast(tot)).select(  # scale-ok: 1-row total
        "brand_a",
        "brand_b",
        "n_orders",
        r6(F.col("n_orders").cast("double") / F.col("n")).alias("support"),
    )


# ---------------------------------------------------------------------------
# Geography revenue rollup: region -> nation subtotals + grand total via
# ROLLUP with explicit grouping-id labels — the hierarchy report shape.
# ---------------------------------------------------------------------------


@register(
    "geo_revenue_rollup",
    oracle="""
    SELECT COALESCE(r_name, 'ALL') AS region,
           COALESCE(n_name, 'ALL') AS nation,
           CAST(ROUND(sum(CAST(o_totalprice AS DECIMAL(25,2))), 2) AS DOUBLE)
             AS revenue,
           count(*) AS n_orders
    FROM orders
    JOIN customer ON c_custkey = o_custkey
    JOIN nation ON n_nationkey = c_nationkey
    JOIN region ON r_regionkey = n_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
    description="Region -> nation -> grand-total revenue rollup (decimal-"
    "exact sums, NULL grouping levels labeled 'ALL'): both dims "
    "broadcast, one shuffle for the rollup aggregate — the hierarchy "
    "report every warehouse ships.",
    tags=("aggregate", "rollup", "hierarchy"),
)
def geo_revenue_rollup(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region")
    joined = (
        o.join(F.broadcast(c), c.c_custkey == o.o_custkey)
        .join(F.broadcast(n), n.n_nationkey == c.c_nationkey)
        .join(F.broadcast(r), r.r_regionkey == n.n_regionkey)
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.round(
                F.sum(F.expr("CAST(o_totalprice AS DECIMAL(25,2))")), 2
            )
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_orders"),
        )
        .select(
            F.coalesce(F.col("r_name"), F.lit("ALL")).alias("region"),
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("nation"),
            "revenue",
            "n_orders",
        )
    )


# ---------------------------------------------------------------------------
# Discount-quantity correlation per brand: does discounting move volume?
# Pearson r from closed-form moment sums — decimal-routed like
# trend_slope_by_type, because corr()'s streaming accumulator is
# partition-order-dependent float on both engines.
# ---------------------------------------------------------------------------


@register(
    "discount_quantity_correlation",
    oracle="""
    WITH xy AS (
      SELECT p.p_brand AS brand,
             CAST(l.l_discount AS DOUBLE) AS x,
             CAST(l.l_quantity AS DOUBLE) AS y
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    sums AS (
      SELECT brand, count(*) AS n,
             CAST(ROUND(sum(CAST(x AS DECIMAL(27,12))), 6) AS DOUBLE) AS sx,
             CAST(ROUND(sum(CAST(y AS DECIMAL(27,12))), 6) AS DOUBLE) AS sy,
             CAST(ROUND(sum(CAST(x * x AS DECIMAL(27,12))), 6) AS DOUBLE)
               AS sxx,
             CAST(ROUND(sum(CAST(y * y AS DECIMAL(27,12))), 6) AS DOUBLE)
               AS syy,
             CAST(ROUND(sum(CAST(x * y AS DECIMAL(27,12))), 6) AS DOUBLE)
               AS sxy
      FROM xy GROUP BY brand
    )
    SELECT brand, n,
           CAST(ROUND(CAST(
             CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                  THEN (n * sxy - sx * sy)
                       / sqrt(n * sxx - sx * sx) / sqrt(n * syy - sy * sy)
             END AS DECIMAL(27,12)), 6) AS DOUBLE) AS pearson_r
    FROM sums
    """,
    description="Pearson correlation of discount vs quantity per brand "
    "from closed-form decimal-routed moment sums (corr()'s streaming "
    "accumulator is partition-order-dependent); the elasticity evidence. "
    "One grouped scan after a broadcast dim join.",
    tags=("aggregate", "regression", "correlation"),
)
def discount_quantity_correlation(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    p = T(spark, sf_dir, "part")
    xy = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        F.col("p_brand").alias("brand"),
        F.col("l_discount").cast("double").alias("x"),
        F.col("l_quantity").cast("double").alias("y"),
    )

    sums = xy.groupBy("brand").agg(
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
        "brand",
        "n",
        r6(r).alias("pearson_r"),
    )


# ---------------------------------------------------------------------------
# Full pairwise correlation matrix over the lineitem measures, from ONE
# scan: all 14 moment sums (4 firsts, 4 squares, 6 cross-products) land in
# a single map-side-combined global aggregate, and the 6 Pearson rows are
# unpacked from that one row — the profiling matrix a warehouse publishes
# without rescanning per pair. Decimal-routed sums keep every moment
# order-independent (corr()'s streaming accumulator is not), same recipe
# as discount_quantity_correlation.
# ---------------------------------------------------------------------------

_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _corr_matrix_oracle() -> str:
    def ds(e, name):
        return (
            f"CAST(ROUND(sum(CAST({e} AS DECIMAL(27,12))), 6) AS DOUBLE)"
            f" AS {name}"
        )

    cols = _CORR_COLS
    singles = ", ".join(
        ds(f"CAST({c} AS DOUBLE)", f"s{i}") for i, c in enumerate(cols)
    )
    squares = ", ".join(
        ds(f"CAST({c} AS DOUBLE) * CAST({c} AS DOUBLE)", f"q{i}")
        for i, c in enumerate(cols)
    )
    crosses = ", ".join(
        ds(
            f"CAST({cols[i]} AS DOUBLE) * CAST({cols[j]} AS DOUBLE)",
            f"x{i}_{j}",
        )
        for i in range(len(cols))
        for j in range(i + 1, len(cols))
    )
    pair_rows = " UNION ALL ".join(
        f"""SELECT '{cols[i]}' AS col_a, '{cols[j]}' AS col_b, n,
        CAST(ROUND(CAST(
          CASE WHEN (n * q{i} - s{i} * s{i}) > 0
                AND (n * q{j} - s{j} * s{j}) > 0
               THEN (n * x{i}_{j} - s{i} * s{j})
                    / sqrt(n * q{i} - s{i} * s{i})
                    / sqrt(n * q{j} - s{j} * s{j})
          END AS DECIMAL(27,12)), 6) AS DOUBLE) AS pearson_r
        FROM sums"""
        for i in range(len(cols))
        for j in range(i + 1, len(cols))
    )
    return f"""
    WITH sums AS (
      SELECT count(*) AS n, {singles}, {squares}, {crosses}
      FROM lineitem
    )
    {pair_rows}
    """


@register(
    "lineitem_correlation_matrix",
    oracle=_corr_matrix_oracle(),
    description="Pairwise Pearson correlation matrix over the four "
    "lineitem measures from ONE scan: 14 decimal-routed moment sums in a "
    "single map-side-combined global aggregate, the 6 pair rows unpacked "
    "from that one row (no per-pair rescan, no corr() streaming "
    "accumulator). The feature-redundancy profile a modeling pipeline "
    "reads before selecting inputs.",
    tags=("aggregate", "correlation", "profiling"),
)
def lineitem_correlation_matrix(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    cols = _CORR_COLS

    aggs = [F.count("*").alias("n")]
    for i, c in enumerate(cols):
        aggs.append(msum(f"CAST({c} AS DOUBLE)", f"s{i}"))
    for i, c in enumerate(cols):
        aggs.append(msum(f"CAST({c} AS DOUBLE) * CAST({c} AS DOUBLE)", f"q{i}"))
    for i in range(len(cols)):
        for j in range(i + 1, len(cols)):
            aggs.append(
                msum(
                    f"CAST({cols[i]} AS DOUBLE) * CAST({cols[j]} AS DOUBLE)",
                    f"x{i}_{j}",
                )
            )
    sums = li.agg(*aggs)
    pair_structs = ", ".join(
        f"named_struct('col_a', '{cols[i]}', 'col_b', '{cols[j]}', "
        f"'pearson_r', CAST(ROUND(CAST("
        f"CASE WHEN (n * q{i} - s{i} * s{i}) > 0D "
        f"AND (n * q{j} - s{j} * s{j}) > 0D "
        f"THEN (n * x{i}_{j} - s{i} * s{j}) "
        f"/ sqrt(n * q{i} - s{i} * s{i}) / sqrt(n * q{j} - s{j} * s{j}) "
        f"END AS DECIMAL(27,12)), 6) AS DOUBLE))"
        for i in range(len(cols))
        for j in range(i + 1, len(cols))
    )
    return sums.select(
        "n", F.explode(F.expr(f"array({pair_structs})")).alias("p")
    ).select("p.col_a", "p.col_b", "n", "p.pearson_r")


# ---------------------------------------------------------------------------
# Semi-structured schema DRIFT: props_schema_profile discovers what keys
# exist; this watches when they appear. Per day: distinct keys present and
# how many appeared for the FIRST time that day — the alarm feed for
# untyped event producers shipping new fields (the silent-contract-change
# failure mode typed pipelines never see). Exact integers throughout.
#
# Scale: one explode scan -> (day, key) distinct pairs (map-side
# combined), first-seen is a key-grouped min over the dim-sized
# (day x key) table.
# ---------------------------------------------------------------------------


@register(
    "props_key_drift",
    oracle="""
    WITH dk AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day,
             unnest(json_keys(props)) AS k
      FROM events WHERE props IS NOT NULL
    ),
    fs AS (SELECT k, min(day) AS first_seen FROM dk GROUP BY k)
    SELECT d.day,
           count(*) AS n_keys_present,
           CAST(sum(CASE WHEN f.first_seen = d.day THEN 1 ELSE 0 END)
                AS BIGINT) AS n_new_keys
    FROM dk d JOIN fs f ON f.k = d.k
    GROUP BY d.day
    """,
    description="JSON schema drift monitor over events.props: per day, "
    "distinct keys present and keys appearing for the first time — the "
    "alarm feed for producers shipping new untyped fields "
    "(props_schema_profile is the discovery pass, this is the watch "
    "pass). One explode scan to distinct (day, key) pairs, first-seen as "
    "a key-grouped min over the dim-sized pair table; exact integers.",
    tags=("json", "semi-structured", "drift", "monitoring"),
)
def props_key_drift(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    dk = (
        ev.filter(F.col("props").isNotNull())
        .select(
            F.date_trunc("day", "ts").cast("date").alias("day"),
            F.explode(
                F.map_keys(F.from_json("props", "map<string,string>"))
            ).alias("k"),
        )
        .distinct()
    )
    fs = dk.groupBy("k").agg(F.min("day").alias("first_seen"))
    return (
        dk.join(fs, "k")
        .groupBy("day")
        .agg(
            F.count("*").alias("n_keys_present"),
            F.sum(
                F.when(F.col("first_seen") == F.col("day"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_new_keys"),
        )
    )


# ---------------------------------------------------------------------------
# Shipping-delay profile: days between order date and each lineitem's ship
# date, summarized per order priority — exact integer-day gaps, nearest-
# rank quantiles by the int64 crossing test (the conversion-latency
# recipe on the star schema). The fulfillment-SLA evidence TPC-H q4 only
# thresholds.
# ---------------------------------------------------------------------------

_SHIP_PCTS = [50, 90, 99]


@register(
    "shipping_delay_profile",
    oracle=f"""
    WITH gaps AS (
      SELECT o.o_orderpriority AS priority,
             date_diff('day', CAST(o.o_orderdate AS DATE),
                       CAST(l.l_shipdate AS DATE)) AS d
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    grp AS (
      SELECT priority, d, count(*) AS c FROM gaps GROUP BY priority, d
    ),
    win AS (
      SELECT priority, d,
             CAST(sum(c) OVER (PARTITION BY priority ORDER BY d)
                  AS BIGINT) AS cum
      FROM grp
    ),
    tot AS (
      SELECT priority, CAST(sum(c) AS BIGINT) AS n FROM grp
      GROUP BY priority
    )
    SELECT w.priority, p.pct, t.n AS n_lineitems,
           CAST(min(w.d) AS BIGINT) AS delay_days
    FROM win w
    JOIN tot t ON t.priority = w.priority
    CROSS JOIN (SELECT unnest([{", ".join(map(str, _SHIP_PCTS))}])
                AS pct) p
    WHERE w.cum * 100 >= p.pct * t.n
    GROUP BY w.priority, p.pct, t.n
    """,
    description=f"Shipping-delay profile per order priority: integer-day "
    f"gap between order date and lineitem ship date, nearest-rank "
    f"p{'/p'.join(map(str, _SHIP_PCTS))} by the int64 crossing test over "
    "distinct gap values — the fulfillment-SLA distribution TPC-H q4 "
    "only thresholds. One fact-fact join shuffle + bounded per-priority "
    "quantile windows.",
    tags=("aggregate", "quantile", "sla", "star-schema"),
)
def shipping_delay_profile(spark, sf_dir):
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    gaps = o.join(li, o.o_orderkey == li.l_orderkey).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(
            F.col("l_shipdate").cast("date"),
            F.col("o_orderdate").cast("date"),
        ).alias("d"),
    )
    grp = gaps.groupBy("priority", "d").agg(F.count("*").alias("c"))
    # scale-ok: window over distinct per-priority gap values (bounded)
    wo = Window.partitionBy("priority").orderBy("d")
    win = grp.select(
        "priority", "d", F.sum("c").over(wo).cast("long").alias("cum")
    )
    tot = grp.groupBy("priority").agg(F.sum("c").cast("long").alias("n"))
    pcts = F.explode(
        F.array(*[F.lit(p) for p in _SHIP_PCTS])
    ).alias("pct")
    return (
        win.join(F.broadcast(tot), "priority")
        .select("priority", "d", "cum", "n", pcts)
        .filter(F.col("cum") * 100 >= F.col("pct") * F.col("n"))
        .groupBy("priority", "pct", F.col("n").alias("n_lineitems"))
        .agg(F.min("d").cast("long").alias("delay_days"))
        .select("priority", "pct", "n_lineitems", "delay_days")
    )


# ---------------------------------------------------------------------------
# RFM customer segmentation: recency (days since last order), frequency
# (order count), monetary (decimal-exact spend), each scored 1-4 by
# ntile over the deterministic total order, concatenated into the
# classic segment code ("444" = best). customer_spend_quartiles scores
# monetary alone; RFM is the full marketing triad. ntile ties are fixed
# by the (metric, customer key) total order, so scores are reproducible.
# ---------------------------------------------------------------------------


@register(
    "rfm_customer_segments",
    oracle="""
    WITH base AS (
      SELECT c.c_custkey,
             date_diff('day', CAST(max(o.o_orderdate) AS DATE),
                       DATE '1998-12-31') AS recency_days,
             count(*) AS frequency,
             CAST(ROUND(sum(CAST(o.o_totalprice AS DECIMAL(18,2))), 2)
                  AS DOUBLE) AS monetary
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey
    ),
    scored AS (
      SELECT c_custkey, recency_days, frequency, monetary,
             ntile(4) OVER (ORDER BY recency_days DESC, c_custkey) AS r,
             ntile(4) OVER (ORDER BY frequency, c_custkey) AS f,
             ntile(4) OVER (ORDER BY monetary, c_custkey) AS m
      FROM base
    )
    SELECT c_custkey, CAST(recency_days AS BIGINT) AS recency_days,
           frequency, monetary,
           r AS r_score, f AS f_score, m AS m_score,
           concat(r, f, m) AS segment
    FROM scored
    """,
    description="RFM customer segmentation: recency (days from last "
    "order to the dataset horizon), frequency (order count), monetary "
    "(decimal-exact spend), each ntile(4)-scored over a deterministic "
    "total order (metric, custkey) and concatenated into the classic "
    "segment code — the marketing triad on top of "
    "customer_spend_quartiles' monetary-only view. One join shuffle + "
    "three global ntile windows over the customer-sized aggregate.",
    tags=("window", "segmentation", "star-schema"),
)
def rfm_customer_segments(spark, sf_dir):
    c = T(spark, sf_dir, "customer").select("c_custkey")
    o = T(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    base = (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_custkey")
        .agg(
            F.datediff(
                F.lit("1998-12-31").cast("date"),
                F.max("o_orderdate").cast("date"),
            ).alias("recency_days"),
            F.count("*").alias("frequency"),
            F.round(F.sum(dec("o_totalprice", 18, 2)), 2)
            .cast("double")
            .alias("monetary"),
        )
    )
    # The segmentation contract needs global quartiles; at extreme scale
    # use quantile-threshold joins instead.
    wr = Window.orderBy(F.col("recency_days").desc(), "c_custkey")  # scale-ok: customer-sized RFM aggregate
    wf = Window.orderBy("frequency", "c_custkey")  # scale-ok: customer-sized RFM aggregate
    wm = Window.orderBy("monetary", "c_custkey")  # scale-ok: customer-sized RFM aggregate
    scored = base.select(
        "c_custkey",
        F.col("recency_days").cast("long").alias("recency_days"),
        "frequency",
        "monetary",
        F.ntile(4).over(wr).alias("r_score"),
        F.ntile(4).over(wf).alias("f_score"),
        F.ntile(4).over(wm).alias("m_score"),
    )
    return scored.select(
        "c_custkey",
        "recency_days",
        "frequency",
        "monetary",
        "r_score",
        "f_score",
        "m_score",
        F.concat("r_score", "f_score", "m_score").alias("segment"),
    )


# ---------------------------------------------------------------------------
# Association rules: confidence and lift on top of the brand-pair support
# table (market_basket_brand_pairs stops at support). Both directions of
# each pair are emitted (confidence is asymmetric); lift's denominators
# are exact integer counts, the displayed ratios are decimal-routed, and
# ranking needs no float at all (filters are integer cross-multiplied).
# ---------------------------------------------------------------------------

_MBL_MIN_ORDERS = 3  # support floor: rules below this are noise


@register(
    "market_basket_lift",
    oracle=f"""
    WITH lines AS (
      SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    brand_n AS (
      SELECT brand, count(*) AS nb FROM lines GROUP BY brand
    ),
    pairs AS (
      SELECT a.brand AS brand_a, b.brand AS brand_b, count(*) AS nab
      FROM lines a JOIN lines b
        ON a.okey = b.okey AND a.brand <> b.brand
      GROUP BY a.brand, b.brand
    ),
    tot AS (SELECT count(DISTINCT okey) AS n FROM lines)
    SELECT p.brand_a AS antecedent, p.brand_b AS consequent,
           CAST(p.nab AS BIGINT) AS n_both,
           CAST(na.nb AS BIGINT) AS n_antecedent,
           CAST(nb.nb AS BIGINT) AS n_consequent,
           CAST(ROUND(CAST(CAST(p.nab AS DOUBLE) / na.nb
                           AS DECIMAL(27,12)), 6) AS DOUBLE) AS confidence,
           CAST(ROUND(CAST(CAST(p.nab AS DOUBLE) * t.n
                           / na.nb / nb.nb
                           AS DECIMAL(27,12)), 6) AS DOUBLE) AS lift
    FROM pairs p
    JOIN brand_n na ON na.brand = p.brand_a
    JOIN brand_n nb ON nb.brand = p.brand_b
    CROSS JOIN tot t
    WHERE p.nab >= {_MBL_MIN_ORDERS}
    """,
    description=f"Association rules over brand pairs: confidence "
    f"P(consequent|antecedent) and lift (observed/expected co-occurrence) "
    f"for both directions of every pair with >= {_MBL_MIN_ORDERS} "
    "co-orders — the rule-quality tier above "
    "market_basket_brand_pairs' support table. Integer counts "
    "throughout; the displayed ratios are decimal-routed, one "
    "correctly-rounded division chain each. Same bounded order-size "
    "fan-out join; brand marginals are a dim-sized broadcast.",
    tags=("join", "basket", "association-rules", "aggregate"),
)
def market_basket_lift(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    p = T(spark, sf_dir, "part")
    lines = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select(
            F.col("l_orderkey").alias("okey"),
            F.col("p_brand").alias("brand"),
        )
        .distinct()
    )
    brand_n = lines.groupBy("brand").agg(F.count("*").alias("nb"))
    a = lines.select(F.col("okey"), F.col("brand").alias("brand_a"))
    b = lines.select(F.col("okey"), F.col("brand").alias("brand_b"))
    pairs = (
        a.join(b, "okey")
        .filter(F.col("brand_a") != F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count("*").alias("nab"))
        .filter(F.col("nab") >= _MBL_MIN_ORDERS)
    )
    na = brand_n.select(
        F.col("brand").alias("brand_a"), F.col("nb").alias("n_antecedent")
    )
    nb_ = brand_n.select(
        F.col("brand").alias("brand_b"), F.col("nb").alias("n_consequent")
    )
    tot = lines.agg(F.countDistinct("okey").alias("n"))
    return (
        pairs.join(F.broadcast(na), "brand_a")
        .join(F.broadcast(nb_), "brand_b")
        .crossJoin(F.broadcast(tot))  # scale-ok: 1-row total
        .select(
            F.col("brand_a").alias("antecedent"),
            F.col("brand_b").alias("consequent"),
            F.col("nab").cast("long").alias("n_both"),
            F.col("n_antecedent").cast("long").alias("n_antecedent"),
            F.col("n_consequent").cast("long").alias("n_consequent"),
            r6(F.col("nab").cast("double") / F.col("n_antecedent"))
            .alias("confidence"),
            r6(
                F.col("nab").cast("double")
                * F.col("n")
                / F.col("n_antecedent")
                / F.col("n_consequent")
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# Skyline (Pareto frontier) — the multi-objective dominance operator
# (Börzsönyi et al., ICDE'01 "The Skyline Operator"). Per brand: the parts
# for which no same-brand part is at-least-as-cheap AND at-least-as-large
# with one inequality strict (minimize p_retailprice, maximize p_size).
# ---------------------------------------------------------------------------


@register(
    "skyline_pareto_frontier",
    oracle="""
    SELECT p_partkey, p_brand, p_retailprice, p_size
    FROM part b
    WHERE NOT EXISTS (
      SELECT 1 FROM part a
      WHERE a.p_brand = b.p_brand
        AND a.p_retailprice <= b.p_retailprice
        AND a.p_size >= b.p_size
        AND (a.p_retailprice < b.p_retailprice OR a.p_size > b.p_size)
    )
    """,
    description="Per-brand skyline (Pareto frontier, Börzsönyi ICDE'01): "
    "parts not weakly dominated on (price min, size max) within their "
    "brand. Spark side is the REDUCTION-FIRST form: dominance is decided "
    "on the (brand, price)->max(size) reduced frame (bounded by distinct "
    "catalog keys, never the fact rows) with a per-brand running-max "
    "window — a (brand,price) group is on the frontier iff its max size "
    "strictly exceeds the running max over all strictly-cheaper prices, "
    "and within the group exactly the max-size rows survive. Fact rows "
    "only probe the tiny frontier frame by broadcast equi-join. The "
    "oracle is the quadratic NOT-EXISTS dominance definition, so the "
    "hash match proves the O(n log n) windowed form equals the O(n^2) "
    "definition. 100 TB: the reduced frame is distinct-key-bounded; were "
    "even that huge, the same reduction nests (bucketize price, recurse).",
    tags=("skyline", "window", "relational"),
    bench=True,  # promoted r7 s4: the dominance-query flagship
)
def skyline_pareto_frontier(spark, sf_dir):
    part = T(spark, sf_dir, "part")
    grp = part.groupBy("p_brand", "p_retailprice").agg(
        F.max("p_size").alias("gmax")
    )
    # One row per (brand, price): the inclusive running max at the PREVIOUS
    # row is exactly the best size among strictly-cheaper prices.
    w_run = (
        Window.partitionBy("p_brand")
        .orderBy("p_retailprice")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_lag = Window.partitionBy("p_brand").orderBy("p_retailprice")
    frontier_groups = (
        grp.withColumn("run", F.max("gmax").over(w_run))
        .withColumn("prev", F.lag("run").over(w_lag))
        .filter(F.col("prev").isNull() | (F.col("gmax") > F.col("prev")))
        .select("p_brand", "p_retailprice", "gmax")
    )
    return (
        part.join(F.broadcast(frontier_groups), ["p_brand", "p_retailprice"])
        .filter(F.col("p_size") == F.col("gmax"))
        .select("p_partkey", "p_brand", "p_retailprice", "p_size")
    )


# ---------------------------------------------------------------------------
# Blocked entity resolution (record linkage): an incoming "dirty" source
# — a seeded, deterministically perturbed sample of the customer master
# (case-insensitive-equivalent ids, +/-1-cent balance drift, dropped
# segments, occasional mis-keyed nation) — is linked back to the master
# with banded blocking + integer Fellegi-Sunter-style field weights.
# The repo's namesake operation (Data Integration): fuzzy_name_match is
# the pairwise-similarity primitive; this is the full source-to-master
# pipeline with blocking completeness, scoring, and a built-in
# ground-truth precision column (the perturbation knows its parent).
# ---------------------------------------------------------------------------

_ER_SEED = 21
_ER_PCT = 40  # % of masters that emit a dirty twin
_ER_ID_OFF = 10_000_000
_ER_BAND = 4  # balance-cents blocking band == 2x the score tolerance
_ER_MATCH = 55
_ER_POSSIBLE = 30


def _er_oracle() -> str:
    from datalakes_and_data_integration_spark.functions.hashing import (
        hash60_sql_duck,
    )

    h = hash60_sql_duck("CAST(c_custkey AS VARCHAR)", seed=_ER_SEED)
    return f"""
    WITH master AS MATERIALIZED (
      SELECT c_custkey AS custkey, c_nationkey AS nat, c_mktsegment AS seg,
             CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_c
      FROM customer
    ),
    dirty AS MATERIALIZED (
      SELECT custkey + {_ER_ID_OFF} AS rec_id, custkey AS true_key,
             CASE WHEN {h} % 11 = 0 THEN (nat + 1) % 25 ELSE nat END AS nat,
             CASE WHEN {h} % 7 = 0 THEN NULL ELSE seg END AS seg,
             bal_c + ({h} % 3) - 1 AS bal_c
      FROM master m
      JOIN (SELECT c_custkey, {h} AS h FROM customer) hh
        ON hh.c_custkey = m.custkey
      WHERE {h} % 100 < {_ER_PCT}
    ),
    cand AS (
      SELECT d.rec_id, d.true_key, m.custkey,
             CASE WHEN abs(d.bal_c - m.bal_c) <= 2 THEN 40 ELSE -10 END
             + CASE WHEN d.seg IS NULL OR m.seg IS NULL THEN 0
                    WHEN d.seg = m.seg THEN 15 ELSE -20 END
             + CASE WHEN d.nat = m.nat THEN 10 ELSE -15 END AS score
      FROM dirty d
      CROSS JOIN (SELECT unnest([-1, 0, 1]) AS off) o
      JOIN master m
        ON m.bal_c // {_ER_BAND} = d.bal_c // {_ER_BAND} + o.off
    ),
    best AS (
      SELECT rec_id, true_key, custkey, score FROM (
        SELECT rec_id, true_key, custkey, score, row_number() OVER (
          PARTITION BY rec_id ORDER BY score DESC, custkey) AS rn
        FROM cand
      ) WHERE rn = 1
    )
    SELECT d.rec_id,
           CAST(b.custkey AS BIGINT) AS matched_custkey,
           CAST(coalesce(b.score, -999) AS BIGINT) AS score,
           CASE WHEN b.rec_id IS NULL THEN 'no_candidate'
                WHEN b.score >= {_ER_MATCH} THEN 'match'
                WHEN b.score >= {_ER_POSSIBLE} THEN 'possible'
                ELSE 'non_match' END AS match_class,
           (b.custkey = d.true_key) AS correct
    FROM dirty d LEFT JOIN best b ON b.rec_id = d.rec_id
    """


@register(
    "entity_resolution_blocked",
    oracle=_er_oracle(),
    description=f"Blocked entity resolution (record linkage — the "
    "repo-namesake Data Integration pipeline): a seeded "
    f"{_ER_PCT}% sample of the customer master emits a perturbed "
    "'incoming' twin (+/-1-cent balance drift, 1-in-7 dropped segment, "
    "1-in-11 mis-keyed nation) and is linked back by banded blocking — "
    "each incoming record probes its 4-cent balance band and both "
    "adjacent bands via an offset equi-join, COMPLETE for the 2-cent "
    "score tolerance by the pigeonhole (|diff| <= 2 forces div-4 "
    "buckets within 1; band width == tolerance is the canonical "
    "blocking choice, and the decade ladder is why: $10 bands read "
    "31x at 10x customers — fixed-domain bands saturate as density "
    "grows, tolerance-width bands keep candidates O(collisions)) — "
    "then integer Fellegi-Sunter-style field weights "
    "(balance within 2c +40/-10, segment agree +15/disagree -20/null "
    "0, nation +10/-15) score candidates, the best per record wins "
    f"(score tie -> min custkey), and >= {_ER_MATCH} / "
    f">= {_ER_POSSIBLE} thresholds classify match / possible / "
    "non_match. The perturbation knows its parent, so the output "
    "carries a ground-truth `correct` column — precision is a free "
    "GROUP BY downstream, the self-evaluating-fixture pattern the "
    "label evals use. Scale: blocking is an equi-join on a banded "
    "near-unique numeric fingerprint (O(occupancy x 3) candidates per "
    "record, never source x master), scores are pure integers, and "
    "the argmax is one ranking window.",
    tags=("join", "entity-resolution", "blocking", "integration",
          "quality"),
    bench=True,  # promoted r8: round-8 flagship
)
def entity_resolution_blocked(spark, sf_dir):
    from datalakes_and_data_integration_spark.functions.hashing import (
        hash60_seeded,
    )

    c = T(spark, sf_dir, "customer")
    master = c.select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_nationkey").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") * 100).cast("bigint").alias("bal_c"),
    ).persist()  # dirty derivation + both blocking probes read it
    h = hash60_seeded(F.col("custkey").cast("string"), _ER_SEED)
    dirty = (
        master.withColumn("h", h)
        .filter(F.col("h") % 100 < _ER_PCT)
        .select(
            (F.col("custkey") + _ER_ID_OFF).alias("rec_id"),
            F.col("custkey").alias("true_key"),
            F.when((F.col("h") % 11) == 0, (F.col("nat") + 1) % 25)
            .otherwise(F.col("nat"))
            .alias("nat"),
            F.when((F.col("h") % 7) == 0, F.lit(None).cast("string"))
            .otherwise(F.col("seg"))
            .alias("seg"),
            (F.col("bal_c") + (F.col("h") % 3) - 1).alias("bal_c"),
        )
    )
    probe = dirty.withColumn(
        "off", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1)))
    ).withColumn(
        "band", F.expr(f"bal_c div {_ER_BAND}") + F.col("off")
    )
    m = master.select(
        F.col("custkey"),
        F.col("nat").alias("m_nat"),
        F.col("seg").alias("m_seg"),
        F.col("bal_c").alias("m_bal_c"),
        F.expr(f"bal_c div {_ER_BAND}").alias("band"),
    )
    score = (
        F.when(F.abs(F.col("bal_c") - F.col("m_bal_c")) <= 2, 40).otherwise(
            -10
        )
        + F.when(F.col("seg").isNull() | F.col("m_seg").isNull(), 0)
        .when(F.col("seg") == F.col("m_seg"), 15)
        .otherwise(-20)
        + F.when(F.col("nat") == F.col("m_nat"), 10).otherwise(-15)
    )
    cand = probe.join(m, "band").select(
        "rec_id", "true_key", "custkey", score.alias("score")
    )
    w = Window.partitionBy("rec_id").orderBy(
        F.col("score").desc(), "custkey"
    )
    best = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("rec_id").alias("b_rec_id"),
            F.col("custkey").alias("matched_custkey"),
            "score",
        )
    )
    return (
        dirty.join(best, dirty.rec_id == best.b_rec_id, "left")
        .select(
            "rec_id",
            F.col("matched_custkey").cast("long"),
            F.coalesce("score", F.lit(-999)).cast("long").alias("score"),
            F.when(F.col("b_rec_id").isNull(), "no_candidate")
            .when(F.col("score") >= _ER_MATCH, "match")
            .when(F.col("score") >= _ER_POSSIBLE, "possible")
            .otherwise("non_match")
            .alias("match_class"),
            (F.col("matched_custkey") == F.col("true_key")).alias(
                "correct"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Item-item collaborative filtering (round-9 second session): the
# co-purchase cosine recommender — "parts bought in the same orders as
# yours". Cosine(i,j) = co_orders / sqrt(n_i * n_j) over the
# order-basket incidence, top-3 neighbors per part. The pair stage is
# bounded by BASKET width, not catalog size (a TPC-H order holds <= 7
# lineitems, so each order emits <= 21 pairs): the classic reason
# item-item CF scales where user-user CF doesn't.
# ---------------------------------------------------------------------------

_IICF_TOPK = 3


@register(
    "item_item_cosine_topk",
    oracle=f"""
    WITH baskets AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS okey, l_partkey AS item
      FROM lineitem
    ),
    item_n AS (
      SELECT item, CAST(count(*) AS BIGINT) AS n FROM baskets GROUP BY item
    ),
    pairs AS (
      SELECT a.item AS item_a, b.item AS item_b,
             CAST(count(*) AS BIGINT) AS co_orders
      FROM baskets a JOIN baskets b
        ON a.okey = b.okey AND a.item <> b.item
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT p.item_a, p.item_b, p.co_orders,
             CAST(p.co_orders AS DOUBLE)
               / sqrt(CAST(na.n AS DOUBLE) * CAST(nb.n AS DOUBLE))
               AS cos_raw
      FROM pairs p
      JOIN item_n na ON na.item = p.item_a
      JOIN item_n nb ON nb.item = p.item_b
    ),
    ranked AS (
      SELECT item_a, item_b, co_orders, cos_raw,
             row_number() OVER (PARTITION BY item_a
               ORDER BY cos_raw DESC, item_b) AS rnk
      FROM scored
    )
    SELECT item_a, item_b AS neighbor, co_orders,
           CAST(ROUND(CAST(cos_raw AS DECIMAL(27,12)), 6) AS DOUBLE)
             AS cosine,
           CAST(rnk AS INT) AS rank
    FROM ranked WHERE rnk <= {_IICF_TOPK}
    """,
    description="Item-item collaborative filtering over the order "
    "baskets: cosine similarity co_orders / sqrt(n_i * n_j) on the "
    "distinct (order, part) incidence, top-3 neighbors per part ranked "
    "by (cosine DESC, neighbor key) — the deterministic tie-break that "
    "keeps equal-cosine neighbors stable cross-engine (cosines are "
    "sqrt/division chains on exact BIGINT counts, so both engines "
    "compute bit-identical doubles). The 100 TB shape is why item-item "
    "CF is the classic at scale: the pair stage self-joins WITHIN an "
    "order key (one co-located shuffle; <= basket-width^2 pairs per "
    "order, never catalog^2), the pair aggregate is map-side combined, "
    "item frequencies broadcast, and the top-k window partitions by "
    "item. Filters co_orders >= 1 implicitly — rarely-co-bought pairs "
    "stay, rank truncation keeps output O(items x k).",
    tags=("relational", "recommender", "similarity", "llm-pipeline"),
)
def item_item_cosine_topk(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    baskets = (
        li.select(
            F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("item")
        )
        .distinct()
        .persist()  # incidence read by the pair stage twice + item counts
    )
    item_n = baskets.groupBy("item").agg(F.count("*").cast("long").alias("n"))
    a = baskets.alias("a")
    b = baskets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.okey") == F.col("b.okey"))
            & (F.col("a.item") != F.col("b.item")),
        )
        .groupBy(
            F.col("a.item").alias("item_a"), F.col("b.item").alias("item_b")
        )
        .agg(F.count("*").cast("long").alias("co_orders"))
    )
    na = item_n.select(F.col("item").alias("item_a"), F.col("n").alias("na"))
    nb = item_n.select(
        F.col("item").alias("item_b"), F.col("n").alias("nb")
    )
    scored = (
        pairs.join(F.broadcast(na), "item_a")
        .join(F.broadcast(nb), "item_b")
        .select(
            "item_a",
            "item_b",
            "co_orders",
            (
                F.col("co_orders").cast("double")
                / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double"))
            ).alias("cos_raw"),
        )
    )
    wr = Window.partitionBy("item_a").orderBy(
        F.col("cos_raw").desc(), F.col("item_b")
    )
    return (
        scored.select(
            "item_a",
            "item_b",
            "co_orders",
            "cos_raw",
            F.row_number().over(wr).alias("rnk"),
        )
        .where(F.col("rnk") <= _IICF_TOPK)
        .select(
            "item_a",
            F.col("item_b").alias("neighbor"),
            "co_orders",
            r6(F.col("cos_raw")).alias("cosine"),
            F.col("rnk").cast("int").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# ER decision-curve audit (round-9 third session): record-linkage
# toolkits report precision/recall/F1 at a sweep of score thresholds —
# the Fellegi-Sunter decision curve that tells the pipeline owner WHERE
# to put the match/possible cut. The ER query's output already carries
# per-record ground truth (the self-evaluating-fixture pattern), so the
# sweep composes on TOP of it: both the Spark side and the oracle wrap
# the linkage result unchanged (no fork risk with the ER pipeline).
# ---------------------------------------------------------------------------

_ER_SWEEP_TS = (-10, 0, 10, 25, 30, 40, 55, 65)


# Shared epilogue over (tp, n_links, n_true): counts are exact BIGINTs,
# the ratios are one shared text (guarded degenerate denominators).
_ER_P = """CASE WHEN n_links = 0 THEN 0.0
           ELSE CAST(tp AS DOUBLE) / CAST(n_links AS DOUBLE) END"""
_ER_R = """CASE WHEN n_true = 0 THEN 0.0
           ELSE CAST(tp AS DOUBLE) / CAST(n_true AS DOUBLE) END"""
_ER_F1 = f"""CASE WHEN ({_ER_P}) + ({_ER_R}) = 0.0 THEN 0.0
            ELSE 2.0 * ({_ER_P}) * ({_ER_R})
                 / (({_ER_P}) + ({_ER_R})) END"""


def _er_sweep_oracle() -> str:
    ts = ", ".join(f"({t})" for t in _ER_SWEEP_TS)
    return f"""
    WITH er AS MATERIALIZED ({_er_oracle()}),
    total AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM er),
    per_score AS (
      SELECT score, coalesce(correct, FALSE) AS correct,
             CAST(count(*) AS BIGINT) AS c
      FROM er WHERE match_class <> 'no_candidate'
      GROUP BY 1, 2
    ),
    probes AS (SELECT CAST(v.t AS BIGINT) AS threshold
               FROM (VALUES {ts}) v(t)),
    cells AS (
      SELECT p.threshold,
             CAST(coalesce(sum(s.c), 0) AS BIGINT) AS n_links,
             CAST(coalesce(sum(CASE WHEN s.correct THEN s.c END), 0)
                  AS BIGINT) AS tp
      FROM probes p
      LEFT JOIN per_score s ON s.score >= p.threshold
      GROUP BY p.threshold
    )
    SELECT c.threshold, c.n_links, c.tp,
           c.n_links - c.tp AS fp,
           t.n_true - c.tp AS fn,
           {r6_sql(_ER_P)} AS precision,
           {r6_sql(_ER_R)} AS recall,
           {r6_sql(_ER_F1)} AS f1
    FROM cells c CROSS JOIN total t
    """


@register(
    "er_quality_threshold_sweep",
    oracle=_er_sweep_oracle(),
    description="Record-linkage decision curve: precision / recall / "
    "F1 of the blocked ER pipeline at a sweep of Fellegi-Sunter score "
    "thresholds — the audit every linkage toolkit reports, answering "
    "WHERE to put the match cut (the shipped >= 55 'match' threshold "
    "sits on this curve next to its alternatives). Composes ON TOP of "
    "entity_resolution_blocked's output (which carries per-record "
    "ground truth — the self-evaluating-fixture pattern), so the sweep "
    "cannot fork from the linkage it audits; counts reduce to a "
    "(score, correct) grid bounded by the integer score domain, and "
    "the ratio epilogue is one shared text over exact BIGINTs, "
    "rounded through the DECIMAL(27,12) half-boundary recipe. Scale: "
    "the only corpus-scale work is the ER pipeline itself; the sweep "
    "is a <= 100-row grid cross the 8-threshold probe list.",
    tags=("entity-resolution", "quality", "stats", "integration"),
    bench=True,  # promoted r9 third session: the decision-curve flagship
)
def er_quality_threshold_sweep(spark, sf_dir):
    # Round-10 job-floor collapse (guide §2.4 / VERDICT r9 #4): the ER
    # pipeline previously persisted at corpus grain and fed TWO
    # consumers (the (score, correct) grid and the total count). ONE
    # grid aggregate — keyed additionally by the candidate flag — now
    # carries both: total = sum of ALL cells, per_score = the candidate
    # cells. The persist moves from the corpus-scale ER frame to the
    # bounded grid (<= score-domain x 4 rows), so the pipeline runs
    # exactly once and nothing corpus-sized is cached (guide §5).
    grid = (
        entity_resolution_blocked(spark, sf_dir)
        .groupBy(
            "score",
            F.coalesce(F.col("correct"), F.lit(False)).alias("ok"),
            (F.col("match_class") != "no_candidate").alias("cand"),
        )
        .agg(F.count("*").cast("long").alias("c"))
        .persist()  # scale-ok: bounded (score, ok, cand) grid
    )
    per_score = grid.filter(F.col("cand")).select("score", "ok", "c")
    # coalesce: an empty grid has n_true = 0, not NULL (sum over no rows)
    total = grid.agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_true")
    )
    probes = spark.createDataFrame(
        [(t,) for t in _ER_SWEEP_TS], "threshold long"
    )
    cells = (
        probes.join(
            F.broadcast(per_score),
            per_score.score >= probes.threshold,
            "left",
        )  # scale-ok: 8 thresholds x the bounded score grid
        .groupBy("threshold")
        .agg(
            F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_links"),
            F.coalesce(F.sum(F.when(F.col("ok"), F.col("c"))), F.lit(0))
            .cast("long")
            .alias("tp"),
        )
    )
    return (
        cells.crossJoin(F.broadcast(total))  # scale-ok: 8 rows x 1-row total
        .selectExpr(
            "threshold",
            "n_links",
            "tp",
            "n_links - tp AS fp",
            "n_true - tp AS fn",
            f"{r6_sql(_ER_P)} AS precision",
            f"{r6_sql(_ER_R)} AS recall",
            f"{r6_sql(_ER_F1)} AS f1",
        )
    )
