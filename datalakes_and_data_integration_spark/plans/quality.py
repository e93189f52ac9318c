"""Data-quality expectation report over the lake (operators/quality.py).

The reference enforces quality destructively inside its transforms
(preprocess_to_staging.py:65-87 drops empty/mismatched rows silently;
process_to_curated.py:96-104 nulls unmapped units). The declarative
counterpart — measure every constraint in an auditable report without
mutating data — is what Deequ/Great Expectations do, and what a 100 TB
lake needs as a first-class operator: one fused scan per table for all
predicate checks, one map-side-combined shuffle per uniqueness key, one
broadcast probe per foreign key.

Registered after the round-2 driver-window cutoff (see plans/__init__.py);
oracle-checked by the local gate and eligible to rotate into the driver
window next round.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datalakes_and_data_integration_spark.operators.quality import (
    ExpectationSuite,
    union_reports,
)
from datalakes_and_data_integration_spark.plans._util import T, r6, state_tmp
from datalakes_and_data_integration_spark.plans.registry import register

_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "data_quality_report",
    oracle=f"""
    WITH report AS (
      SELECT 'lineitem' AS table_name, 'l_orderkey_not_null' AS check_name,
             count(*) AS n_checked,
             CAST(coalesce(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS n_violations
      FROM lineitem
      UNION ALL
      SELECT 'lineitem', 'l_quantity_between_1_50', count(*),
             CAST(coalesce(sum(CASE WHEN l_quantity IS NOT NULL
                                     AND l_quantity NOT BETWEEN 1 AND 50
                                    THEN 1 ELSE 0 END), 0) AS BIGINT)
      FROM lineitem
      UNION ALL
      SELECT 'lineitem', 'l_discount_in_unit_interval', count(*),
             CAST(coalesce(sum(CASE WHEN NOT (l_discount >= 0.0
                                              AND l_discount <= 0.1)
                                    THEN 1 ELSE 0 END), 0) AS BIGINT)
      FROM lineitem
      UNION ALL
      SELECT 'lineitem', 'l_quantity_le_30_sla', count(*),
             CAST(coalesce(sum(CASE WHEN NOT (l_quantity <= 30)
                                    THEN 1 ELSE 0 END), 0) AS BIGINT)
      FROM lineitem
      UNION ALL
      SELECT 'lineitem', 'l_orderkey_l_linenumber_unique',
             CAST(coalesce(sum(__cnt), 0) AS BIGINT),
             CAST(coalesce(sum(CASE WHEN __cnt > 1 THEN __cnt - 1 END), 0)
                  AS BIGINT)
      FROM (SELECT count(*) AS __cnt FROM lineitem
            GROUP BY l_orderkey, l_linenumber)
      UNION ALL
      SELECT 'lineitem', 'l_orderkey_fk_orders_o_orderkey',
             CAST(coalesce(sum(__cnt), 0) AS BIGINT),
             CAST(coalesce(sum(CASE WHEN o.o_orderkey IS NULL THEN __cnt END), 0)
                  AS BIGINT)
      FROM (SELECT l_orderkey AS __k, count(*) AS __cnt FROM lineitem
            WHERE l_orderkey IS NOT NULL GROUP BY l_orderkey) f
      LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        ON f.__k = o.o_orderkey
      UNION ALL
      SELECT 'orders', 'o_orderkey_unique',
             CAST(coalesce(sum(__cnt), 0) AS BIGINT),
             CAST(coalesce(sum(CASE WHEN __cnt > 1 THEN __cnt - 1 END), 0)
                  AS BIGINT)
      FROM (SELECT count(*) AS __cnt FROM orders GROUP BY o_orderkey)
      UNION ALL
      SELECT 'orders', 'o_orderstatus_accepted_values', count(*),
             CAST(coalesce(sum(CASE WHEN o_orderstatus IS NOT NULL
                                     AND o_orderstatus NOT IN ('F','O','P')
                                    THEN 1 ELSE 0 END), 0) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'orders', 'o_totalprice_positive', count(*),
             CAST(coalesce(sum(CASE WHEN NOT (o_totalprice > 0)
                                    THEN 1 ELSE 0 END), 0) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'orders', 'o_custkey_fk_customer_c_custkey',
             CAST(coalesce(sum(__cnt), 0) AS BIGINT),
             CAST(coalesce(sum(CASE WHEN c.c_custkey IS NULL THEN __cnt END), 0)
                  AS BIGINT)
      FROM (SELECT o_custkey AS __k, count(*) AS __cnt FROM orders
            WHERE o_custkey IS NOT NULL GROUP BY o_custkey) f
      LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        ON f.__k = c.c_custkey
      UNION ALL
      SELECT 'events', 'value_not_null', count(*),
             CAST(coalesce(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END), 0)
                  AS BIGINT)
      FROM events
      UNION ALL
      SELECT 'events', 'event_type_accepted_values', count(*),
             CAST(coalesce(sum(CASE WHEN event_type IS NOT NULL
                                     AND event_type NOT IN
                                         {_EVENT_TYPES!r}
                                    THEN 1 ELSE 0 END), 0) AS BIGINT)
      FROM events
      UNION ALL
      SELECT 'events', 'user_id_fk_customer_c_custkey',
             CAST(coalesce(sum(__cnt), 0) AS BIGINT),
             CAST(coalesce(sum(CASE WHEN c.c_custkey IS NULL THEN __cnt END), 0)
                  AS BIGINT)
      FROM (SELECT user_id AS __k, count(*) AS __cnt FROM events
            WHERE user_id IS NOT NULL GROUP BY user_id) f
      LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        ON f.__k = c.c_custkey
    )
    SELECT table_name, check_name, n_checked, n_violations,
           n_violations = 0 AS passed
    FROM report
    """,
    description="Declarative data-quality report (operators/quality.py): "
    "13 expectations across lineitem/orders/events — not-null, range, "
    "accepted-values, custom SLA predicates, composite-key uniqueness, "
    "and referential integrity — each a (n_checked, n_violations, passed) "
    "row. Scale shape: ALL predicate checks on a table fuse into ONE "
    "aggregation over one scan (adding a check costs zero extra reads); "
    "uniqueness is one map-side-combined groupBy; FK checks pre-aggregate "
    "fact keys and broadcast-probe the dim, so fact rows never shuffle. "
    "The l_quantity<=30 SLA is intentionally tight so the violation-"
    "counting path is exercised with real non-zero counts.",
    tags=("quality", "audit", "profiling"),
)
def data_quality_report(spark, sf_dir):
    from pyspark.sql import functions as F

    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    e = T(spark, sf_dir, "events")

    li_suite = (
        ExpectationSuite(li, "lineitem")
        .expect_not_null("l_orderkey")
        .expect_between("l_quantity", 1, 50)
        .expect_predicate(
            "l_discount_in_unit_interval",
            (F.col("l_discount") >= 0.0) & (F.col("l_discount") <= 0.1),
        )
        .expect_predicate("l_quantity_le_30_sla", F.col("l_quantity") <= 30)
        .expect_unique("l_orderkey", "l_linenumber")
        # broadcast_dim: these key sets are dim-sized at every gate SF;
        # callers with fact-sized key sets omit the flag and let AQE pick.
        .expect_foreign_key(
            "l_orderkey", o, "o_orderkey", "orders", broadcast_dim=True
        )
    )
    o_suite = (
        ExpectationSuite(o, "orders")
        .expect_unique("o_orderkey")
        .expect_in("o_orderstatus", ("F", "O", "P"))
        .expect_predicate("o_totalprice_positive", F.col("o_totalprice") > 0)
        .expect_foreign_key(
            "o_custkey", c, "c_custkey", "customer", broadcast_dim=True
        )
    )
    e_suite = (
        ExpectationSuite(e, "events")
        .expect_not_null("value")
        .expect_in("event_type", _EVENT_TYPES)
        .expect_foreign_key(
            "user_id", c, "c_custkey", "customer", broadcast_dim=True
        )
    )
    return union_reports(li_suite.run(), o_suite.run(), e_suite.run())


@register(
    "quarantine_audit",
    oracle=f"""
    WITH tagged AS (
      SELECT event_id,
             concat_ws(',',
               CASE WHEN event_type IS NOT NULL
                     AND event_type NOT IN {_EVENT_TYPES!r}
                    THEN 'event_type_accepted_values' END,
               CASE WHEN NOT (user_id <> 0) THEN 'user_id_nonzero' END,
               CASE WHEN NOT (value <= 150) THEN 'value_le_150_sla' END,
               CASE WHEN value IS NULL THEN 'value_not_null' END
             ) AS violations
      FROM events
    )
    SELECT violations, count(*) AS n_rows,
           min(event_id) AS first_event_id
    FROM tagged GROUP BY violations
    """,
    description="Dead-letter split audit (ExpectationSuite.quarantine): "
    "events rows routed by which row-local expectations they fail, with "
    "the comma-joined alphabetical reason string ('' = passing), row "
    "count, and first offending event_id per reason combination. The "
    "value<=150 SLA and user_id<>0 checks are intentionally tight so "
    "single- and multi-violation combos all occur. Scale shape: the "
    "reason string is a narrow projection on the scan and the audit is "
    "one map-side-combined groupBy over at most 2^checks combos — no "
    "row ever shuffles with its payload.",
    tags=("quality", "audit", "dead-letter"),
)
def quarantine_audit(spark, sf_dir):
    from pyspark.sql import functions as F

    e = T(spark, sf_dir, "events")
    suite = (
        ExpectationSuite(e, "events")
        .expect_not_null("value")
        .expect_predicate("value_le_150_sla", F.col("value") <= 150)
        .expect_in("event_type", _EVENT_TYPES)
        .expect_predicate("user_id_nonzero", F.col("user_id") != 0)
    )
    good, bad = suite.quarantine()
    tagged = good.withColumn("violations", F.lit("")).select(
        "event_id", "violations"
    ).unionByName(bad.select("event_id", "violations"))
    return tagged.groupBy("violations").agg(
        F.count("*").alias("n_rows"),
        F.min("event_id").alias("first_event_id"),
    )


@register(
    "streaming_quality_report",
    oracle=f"""
    WITH counts AS (
      SELECT count(*) AS n,
             CAST(coalesce(sum(CASE WHEN event_type IS NOT NULL
                                     AND event_type NOT IN {_EVENT_TYPES!r}
                                    THEN 1 ELSE 0 END), 0) AS BIGINT) AS c_type,
             CAST(coalesce(sum(CASE WHEN NOT (user_id <> 0)
                                    THEN 1 ELSE 0 END), 0) AS BIGINT) AS c_uid,
             CAST(coalesce(sum(CASE WHEN NOT (value <= 150)
                                    THEN 1 ELSE 0 END), 0) AS BIGINT) AS c_sla,
             CAST(coalesce(sum(CASE WHEN value IS NULL
                                    THEN 1 ELSE 0 END), 0) AS BIGINT) AS c_null
      FROM events
    )
    SELECT 'events' AS table_name, check_name, n AS n_checked, n_violations,
           n_violations = 0 AS passed
    FROM counts
    CROSS JOIN (VALUES ('event_type_accepted_values'), ('user_id_nonzero'),
                       ('value_le_150_sla'), ('value_not_null')) v(check_name)
    CROSS JOIN LATERAL (
      SELECT CASE check_name
               WHEN 'event_type_accepted_values' THEN c_type
               WHEN 'user_id_nonzero' THEN c_uid
               WHEN 'value_le_150_sla' THEN c_sla
               ELSE c_null
             END AS n_violations
    ) x
    """,
    description="Incremental quality monitoring: the SAME ExpectationSuite "
    "predicate aggregation run as a Structured Streaming query (events "
    "split into 8 files, maxFilesPerTrigger=2 -> 4+ micro-batches, "
    "Trigger.AvailableNow, complete mode). The fused check counts are "
    "plain sums, so micro-batch partials merge to EXACTLY the batch "
    "report — the oracle computes it batch-wise over the full table. "
    "Scale shape: streaming state is the one wide counts row per "
    "aggregation, constant in corpus size; each micro-batch scans only "
    "its new files.",
    tags=("quality", "streaming", "incremental", "audit"),
)
def streaming_quality_report(spark, sf_dir):
    from pyspark.sql import functions as F

    from datalakes_and_data_integration_spark.streaming import (
        run_available_now,
    )

    e = T(spark, sf_dir, "events")
    src = state_tmp("quality_stream_src")
    e.repartition(8).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(src)
    )
    suite = (
        ExpectationSuite(stream, "events")
        .expect_not_null("value")
        .expect_predicate("value_le_150_sla", F.col("value") <= 150)
        .expect_in("event_type", _EVENT_TYPES)
        .expect_predicate("user_id_nonzero", F.col("user_id") != 0)
    )
    wide = run_available_now(
        suite.predicate_counts(),
        spark,
        name="streaming_quality_report_out",
        output_mode="complete",
    )
    return suite.report_from_counts(wide)


@register(
    "k_anonymity_audit",
    oracle="""
    WITH classes AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
             count(*) AS sz
      FROM customer GROUP BY 1, 2, 3
    )
    SELECT k.k_threshold,
           CAST(coalesce(sum(CASE WHEN sz < k.k_threshold THEN sz END), 0)
                AS BIGINT) AS rows_at_risk,
           CAST(coalesce(sum(CASE WHEN sz < k.k_threshold THEN 1 END), 0)
                AS BIGINT) AS classes_at_risk,
           CAST(ROUND(CAST(
             CAST(coalesce(sum(CASE WHEN sz < k.k_threshold THEN sz END), 0)
                  AS DOUBLE) / sum(sz) AS DECIMAL(27,12)), 6) AS DOUBLE)
             AS pct_rows_at_risk
    FROM classes
    CROSS JOIN (VALUES (2), (5), (10), (20)) k(k_threshold)
    GROUP BY k.k_threshold
    """,
    description="k-anonymity audit over the customer quasi-identifiers "
    "(nation, market segment, account-balance kilobucket): for each "
    "re-identification threshold k, how many rows sit in equivalence "
    "classes smaller than k — the privacy gate a training corpus with "
    "user-derived records must clear before release. Scale shape: one "
    "map-side-combined groupBy builds the class-size table (bounded by "
    "the QI domain, not row count); the threshold sweep is a broadcast "
    "cross join over that tiny table, so the fact table is scanned once.",
    tags=("quality", "privacy", "audit", "llm-pipeline"),
)
def k_anonymity_audit(spark, sf_dir):
    from pyspark.sql import functions as F

    c = T(spark, sf_dir, "customer")
    classes = c.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bal_bucket"),
    ).agg(F.count("*").alias("sz"))
    ks = spark.createDataFrame(
        [(2,), (5,), (10,), (20,)], "k_threshold int"
    )
    risk = F.when(F.col("sz") < F.col("k_threshold"), F.col("sz"))
    return (
        classes.crossJoin(F.broadcast(ks))  # scale-ok: 4-row threshold dim
        .groupBy("k_threshold")
        .agg(
            F.coalesce(F.sum(risk), F.lit(0)).alias("rows_at_risk"),
            F.coalesce(
                F.sum(F.when(F.col("sz") < F.col("k_threshold"), 1)), F.lit(0)
            ).alias("classes_at_risk"),
            r6(
                F.coalesce(F.sum(risk), F.lit(0)).cast("double")
                / F.sum("sz")
            ).alias("pct_rows_at_risk"),
        )
    )


# --------------------------------------------------------------------------
# l-diversity: the companion privacy gate to k_anonymity_audit. A class
# can be large (k-anonymous) yet still leak — if every member shares the
# same sensitive value, membership alone reveals it. Per quasi-identifier
# class, count DISTINCT sensitive values (market segment here); classes
# below each l threshold are attribute-disclosure risks.
# --------------------------------------------------------------------------


@register(
    "l_diversity_audit",
    oracle="""
    WITH classes AS (
      SELECT c_nationkey,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
             count(*) AS sz,
             count(DISTINCT c_mktsegment) AS l_div
      FROM customer GROUP BY 1, 2
    )
    SELECT l.l_threshold,
           CAST(coalesce(sum(CASE WHEN l_div < l.l_threshold THEN 1 END), 0)
                AS BIGINT) AS classes_at_risk,
           CAST(coalesce(sum(CASE WHEN l_div < l.l_threshold THEN sz END), 0)
                AS BIGINT) AS rows_at_risk,
           CAST(ROUND(CAST(
             CAST(coalesce(sum(CASE WHEN l_div < l.l_threshold THEN sz END),
                           0) AS DOUBLE) / sum(sz)
             AS DECIMAL(27,12)), 6) AS DOUBLE) AS pct_rows_at_risk
    FROM classes
    CROSS JOIN (VALUES (2), (3), (5)) l(l_threshold)
    GROUP BY l.l_threshold
    """,
    description="l-diversity audit over the customer quasi-identifiers "
    "(nation, account-balance kilobucket) with market segment as the "
    "sensitive attribute: per threshold l, how many equivalence classes "
    "carry fewer than l distinct sensitive values — the attribute-"
    "disclosure gate k-anonymity alone misses (a big class whose members "
    "all share one segment still leaks it). One map-side-combined "
    "distinct-count groupBy bounded by the QI domain; the threshold "
    "sweep is a broadcast cross join over the tiny class table.",
    tags=("quality", "privacy", "audit", "llm-pipeline"),
)
def l_diversity_audit(spark, sf_dir):
    from pyspark.sql import functions as F

    c = T(spark, sf_dir, "customer")
    classes = c.groupBy(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_bucket"),
    ).agg(
        F.count("*").alias("sz"),
        F.countDistinct("c_mktsegment").alias("l_div"),
    )
    ls = spark.createDataFrame([(2,), (3,), (5,)], ["l_threshold"])
    at_risk = F.col("l_div") < F.col("l_threshold")
    return (
        classes.crossJoin(F.broadcast(ls))  # scale-ok: 3-row threshold sweep
        .groupBy("l_threshold")
        .agg(
            F.coalesce(F.sum(F.when(at_risk, 1)), F.lit(0))
            .cast("long")
            .alias("classes_at_risk"),
            F.coalesce(F.sum(F.when(at_risk, F.col("sz"))), F.lit(0))
            .cast("long")
            .alias("rows_at_risk"),
            r6(
                F.coalesce(
                    F.sum(F.when(at_risk, F.col("sz"))), F.lit(0)
                ).cast("double")
                / F.sum("sz")
            ).alias("pct_rows_at_risk"),
        )
    )


# --------------------------------------------------------------------------
# t-closeness: the third privacy gate (Li et al., ICDE'07). A class can be
# k-anonymous AND l-diverse yet still leak: if its sensitive-value MIX
# differs sharply from the table's, membership shifts an attacker's prior.
# Per QI class: total-variation distance between the class's segment
# distribution and the global one, in exact integer cross-multiplication.
# --------------------------------------------------------------------------


@register(
    "t_closeness_audit",
    oracle="""
    WITH cells AS (
      SELECT c_nationkey,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
             c_mktsegment, count(*) AS cnt
      FROM customer GROUP BY 1, 2, 3
    ),
    class_sz AS (
      SELECT c_nationkey, bal_bucket, CAST(sum(cnt) AS BIGINT) AS n
      FROM cells GROUP BY 1, 2
    ),
    g AS (SELECT c_mktsegment, count(*) AS gs FROM customer GROUP BY 1),
    nt AS (SELECT count(*) AS n_total FROM customer),
    class_tvd AS (
      -- per-cell |c*N - g*n| fits int64 to N ~ 3e9; the 1000x multiply
      -- and the summed numerator/denominator go through HUGEINT (and
      -- DECIMAL(38,0) on the Spark side) so a large skewed class never
      -- wraps — both engines are exact big-int, so they still agree.
      SELECT ce.c_nationkey, ce.bal_bucket, min(cs.n) AS sz,
             CAST((1000 * (sum(CAST(abs(ce.cnt * (SELECT n_total FROM nt)
                                        - g.gs * cs.n) AS HUGEINT))
                           + CAST(((SELECT n_total FROM nt) - sum(g.gs))
                                  AS HUGEINT) * min(cs.n)))
                  // (CAST(2 AS HUGEINT) * min(cs.n)
                      * (SELECT n_total FROM nt))
                  AS BIGINT) AS tvd_permille
      FROM cells ce
      JOIN class_sz cs ON cs.c_nationkey = ce.c_nationkey
                      AND cs.bal_bucket = ce.bal_bucket
      JOIN g ON g.c_mktsegment = ce.c_mktsegment
      GROUP BY ce.c_nationkey, ce.bal_bucket
    )
    SELECT t.t_permille,
           CAST(coalesce(sum(CASE WHEN tvd_permille > t.t_permille
                                  THEN 1 END), 0) AS BIGINT)
             AS classes_at_risk,
           CAST(coalesce(sum(CASE WHEN tvd_permille > t.t_permille
                                  THEN sz END), 0) AS BIGINT)
             AS rows_at_risk,
           CAST(ROUND(CAST(
             CAST(coalesce(sum(CASE WHEN tvd_permille > t.t_permille
                                    THEN sz END), 0) AS DOUBLE) / sum(sz)
             AS DECIMAL(27,12)), 6) AS DOUBLE) AS pct_rows_at_risk
    FROM class_tvd
    CROSS JOIN (VALUES (100), (200), (300), (500)) t(t_permille)
    GROUP BY t.t_permille
    """,
    description="t-closeness audit (Li et al. ICDE'07) over the customer "
    "quasi-identifiers (nation, account-balance kilobucket) with market "
    "segment sensitive: per class, the total-variation distance between "
    "the class's segment mix and the global mix — the gate k-anonymity "
    "and l-diversity miss (a large, diverse class whose mix is skewed "
    "still shifts an attacker's prior). TVD per-mille is exact integer "
    "cross-multiplication (|cnt*N - g_s*n| summed over present segments "
    "+ (N - sum g_s)*n for absent ones, over 2nN; intermediates < 2^63 "
    "out to ~1e9-row tables). One cells groupBy bounded by QI x segment "
    "domain, the 5-row global mix broadcast, threshold sweep on the "
    "tiny class table — facts scanned once, like its two companions.",
    tags=("quality", "privacy", "audit", "llm-pipeline"),
)
def t_closeness_audit(spark, sf_dir):
    from pyspark.sql import functions as F

    c = T(spark, sf_dir, "customer")
    cells = c.groupBy(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_bucket"),
        "c_mktsegment",
    ).agg(F.count("*").alias("cnt"))
    class_sz = cells.groupBy("c_nationkey", "bal_bucket").agg(
        F.sum("cnt").cast("long").alias("n")
    )
    g = F.broadcast(
        c.groupBy("c_mktsegment").agg(F.count("*").alias("gs"))
    )
    n_total = c.count()  # scale-ok: 1 scalar (table size)
    class_tvd = (
        cells.join(class_sz, ["c_nationkey", "bal_bucket"])
        .join(g, "c_mktsegment")
        .groupBy("c_nationkey", "bal_bucket")
        .agg(
            F.min("n").alias("sz"),
            F.expr(
                f"CAST((1000 * (sum(CAST(abs(cnt * {n_total} - gs * n) "
                f"AS DECIMAL(38,0))) "
                f"+ CAST(({n_total} - sum(gs)) AS DECIMAL(38,0)) * min(n))) "
                f"div (CAST(2 AS DECIMAL(38,0)) * min(n) * {n_total}) "
                f"AS BIGINT)"
            ).alias("tvd_permille"),
        )
    )
    ts = spark.createDataFrame(
        [(100,), (200,), (300,), (500,)], ["t_permille"]
    )
    at_risk = F.col("tvd_permille") > F.col("t_permille")
    return (
        class_tvd.crossJoin(F.broadcast(ts))  # scale-ok: 4-row sweep
        .groupBy("t_permille")
        .agg(
            F.coalesce(F.sum(F.when(at_risk, 1)), F.lit(0))
            .cast("long")
            .alias("classes_at_risk"),
            F.coalesce(F.sum(F.when(at_risk, F.col("sz"))), F.lit(0))
            .cast("long")
            .alias("rows_at_risk"),
            r6(
                F.coalesce(
                    F.sum(F.when(at_risk, F.col("sz"))), F.lit(0)
                ).cast("double")
                / F.sum("sz")
            ).alias("pct_rows_at_risk"),
        )
    )


# ---------------------------------------------------------------------------
# The expectation suite applied to the TEXT corpus — operator-reuse
# evidence: the same fused one-scan machinery that audits the warehouse
# tables (data_quality_report) publishes the corpus contract a training
# pipeline consumes (non-null fields, lang enum, metadata consistency,
# id uniqueness, a deliberately discriminating length floor). All
# predicate checks fuse into ONE aggregate over one scan; uniqueness is
# the one extra shuffle.
# ---------------------------------------------------------------------------


@register(
    "doc_corpus_quality_report",
    oracle="""
    WITH preds AS (
      SELECT 'documents' AS table_name, 'text_not_null' AS check_name,
             count(*) AS n_checked,
             CAST(coalesce(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END),
                           0) AS BIGINT) AS n_violations
      FROM documents
      UNION ALL
      SELECT 'documents', 'lang_not_null', count(*),
             CAST(coalesce(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END),
                           0) AS BIGINT)
      FROM documents
      UNION ALL
      SELECT 'documents', 'lang_accepted_values', count(*),
             CAST(coalesce(sum(CASE WHEN lang IS NOT NULL
                               AND lang NOT IN ('en','de','es','fr','zh')
                               THEN 1 ELSE 0 END), 0) AS BIGINT)
      FROM documents
      UNION ALL
      SELECT 'documents', 'n_chars_between_100_10000', count(*),
             CAST(coalesce(sum(CASE WHEN n_chars IS NOT NULL
                               AND n_chars NOT BETWEEN 100 AND 10000
                               THEN 1 ELSE 0 END), 0) AS BIGINT)
      FROM documents
      UNION ALL
      SELECT 'documents', 'n_chars_matches_text', count(*),
             CAST(coalesce(sum(CASE WHEN length(text) = n_chars
                               THEN 0 ELSE 1 END), 0) AS BIGINT)
      FROM documents
      UNION ALL
      SELECT 'documents', 'doc_id_unique', count(*),
             CAST((SELECT coalesce(sum(c - 1), 0) FROM (
               SELECT count(*) AS c FROM documents GROUP BY doc_id
             ) WHERE c > 1) AS BIGINT)
      FROM documents
    )
    SELECT table_name, check_name, n_checked, n_violations,
           n_violations = 0 AS passed
    FROM preds
    """,
    description="The declarative expectation suite (operators/quality.py) "
    "applied to the text corpus: non-null text/lang, lang enum, metadata "
    "consistency (length(text) == n_chars), doc_id uniqueness, and a "
    "deliberately discriminating 100-char length floor — the corpus "
    "contract a training pipeline publishes. All predicate checks fuse "
    "into ONE aggregate over one scan (same machinery, same plan shape "
    "as data_quality_report); uniqueness is the one extra shuffle.",
    tags=("quality", "expectations", "text", "llm-pipeline"),
)
def doc_corpus_quality_report(spark, sf_dir):
    from datalakes_and_data_integration_spark.operators.quality import (
        ExpectationSuite,
    )

    d = T(spark, sf_dir, "documents")
    suite = (
        ExpectationSuite(d, "documents")
        .expect_not_null("text")
        .expect_not_null("lang")
        .expect_in("lang", ["en", "de", "es", "fr", "zh"])
        .expect_between("n_chars", 100, 10000)
        .expect_predicate(
            "n_chars_matches_text",
            F.length("text") == F.col("n_chars"),
        )
        .expect_unique("doc_id")
    )
    return suite.run()


# ---------------------------------------------------------------------------
# Differentially-private release audit — the publication tier of the
# governance family (k-anonymity / l-diversity / t-closeness audit the
# raw table; this audits the NOISED aggregate actually released).
# ---------------------------------------------------------------------------

_DP_EPS = 1.0  # epsilon per released cell
_DP_SEED = 47
_DP_U = 1 << 20  # uniform grid for the seeded inverse-CDF draw


def _dp_oracle() -> str:
    from datalakes_and_data_integration_spark.functions.hashing import (
        hash60_sql_duck,
    )

    h = hash60_sql_duck(
        "event_type || ':' || CAST(CAST(date_trunc('day', ts) AS DATE) "
        "AS VARCHAR)",
        seed=_DP_SEED,
    )
    # u = ((h mod (2^20 - 1)) + 1) / 2^20 lands in
    # [1/2^20, (2^20-1)/2^20]: never 0 OR 1, so |u - 0.5| < 0.5 strictly
    # and ln(1 - 2|u-0.5|) is finite. (A mod-2^20 draw could hit u = 1.0
    # exactly — ln(0): DuckDB aborts, Spark returns NULL. Code-review
    # r7 s6 finding #1.)
    u = f"(({h} % {_DP_U - 1}) + 1) / CAST({_DP_U} AS DOUBLE)"
    return f"""
    WITH cells AS (
      SELECT event_type,
             CAST(date_trunc('day', ts) AS DATE) AS day,
             count(*) AS true_count,
             {u} AS u
      FROM events
      GROUP BY event_type, day
    ),
    noised AS (
      SELECT event_type, day, true_count,
             -(1.0 / {_DP_EPS})
               * CASE WHEN u >= 0.5 THEN 1.0 ELSE -1.0 END
               * ln(1.0 - 2.0 * abs(u - 0.5)) AS noise
      FROM cells
    )
    SELECT event_type, day,
           CAST(true_count AS BIGINT) AS true_count,
           round(true_count + noise, 6) AS released_count,
           round(abs(noise), 6) AS abs_noise,
           CAST({_DP_EPS} AS DOUBLE) AS epsilon
    FROM noised
    """


@register(
    "dp_noisy_release_audit",
    oracle=_dp_oracle(),
    description="Differentially-private histogram release (epsilon="
    f"{_DP_EPS} Laplace mechanism, event-level adjacency): the "
    "(event_type, day) count table is released with Laplace(1/eps) "
    "noise drawn by inverse-CDF from a SEEDED md5 uniform — the release "
    "is deterministic for the audit (hash-gated cross-engine) while "
    "keeping the mechanism's exact shape; the report carries true "
    "count, released count, and the per-cell noise magnitude the "
    "utility loss is priced from. Count queries have sensitivity 1 "
    "under event-level adjacency; USER-level DP additionally requires "
    "bounding each user's contribution per cell (contribution capping) "
    "before this mechanism applies — the distinction that matters in a "
    "training-data pipeline. Completes the governance ladder: k-anon / "
    "l-div / t-closeness audit the raw table, the GDPR manifest plans "
    "deletion, this audits the aggregate actually published. Shape: "
    "one map-side-combined aggregate; noise is a per-cell expression.",
    tags=("governance", "privacy", "dp", "audit"),
)
def dp_noisy_release_audit(spark, sf_dir):
    from datalakes_and_data_integration_spark.functions.hashing import (
        hash60_seeded,
    )

    ev = T(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count("*").alias("true_count"))
    h = hash60_seeded(
        F.concat(
            F.col("event_type"), F.lit(":"), F.col("day").cast("string")
        ),
        _DP_SEED,
    )
    u = ((h % (_DP_U - 1)) + 1) / F.lit(float(_DP_U))
    noise = (
        F.lit(-1.0 / _DP_EPS)
        * F.when(u >= 0.5, F.lit(1.0)).otherwise(F.lit(-1.0))
        * F.log(F.lit(1.0) - 2.0 * F.abs(u - F.lit(0.5)))
    )
    return cells.select(
        "event_type",
        "day",
        F.col("true_count").cast("long").alias("true_count"),
        F.round(F.col("true_count") + noise, 6).alias("released_count"),
        F.round(F.abs(noise), 6).alias("abs_noise"),
        F.lit(float(_DP_EPS)).alias("epsilon"),
    )


# ---------------------------------------------------------------------------
# k-anonymity generalization plan: k_anonymity_audit says HOW EXPOSED the
# release is; this says WHAT TO DO — walk a monotone generalization
# ladder over the same quasi-identifiers (nation -> region -> suppress;
# $1k balance band -> $5k -> suppress; segment -> suppress) and pick the
# FIRST level whose smallest equivalence class reaches k. The Mondrian/
# Incognito search as one query over a fixed ladder: each level is a
# re-keyed class-size aggregate over the same scan, so the plan costs
# L aggregates over QI-domain-bounded frames, never L table scans of
# fact-scale state.
# ---------------------------------------------------------------------------

_KGEN_K = 5
_KGEN_LEVELS = (
    ("nation|bal1000|segment", 0),
    ("region|bal1000|segment", 1),
    ("region|bal5000|segment", 2),
    ("region|bal5000|*", 3),
    ("*|bal5000|*", 4),
)


def _kgen_oracle() -> str:
    def level_sql(lvl: int, geo: str, bal: str, seg: str) -> str:
        return f"""
      SELECT {lvl} AS level, {geo} AS geo, {bal} AS bal, {seg} AS seg,
             count(*) AS sz
      FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 2, 3, 4"""

    levels = " UNION ALL ".join(
        level_sql(lvl, geo, bal, seg)
        for lvl, geo, bal, seg in (
            (0, "CAST(c.c_nationkey AS VARCHAR)",
             "floor(c.c_acctbal / 1000)", "c.c_mktsegment"),
            (1, "CAST(n.n_regionkey AS VARCHAR)",
             "floor(c.c_acctbal / 1000)", "c.c_mktsegment"),
            (2, "CAST(n.n_regionkey AS VARCHAR)",
             "floor(c.c_acctbal / 5000)", "c.c_mktsegment"),
            (3, "CAST(n.n_regionkey AS VARCHAR)",
             "floor(c.c_acctbal / 5000)", "'*'"),
            (4, "'*'", "floor(c.c_acctbal / 5000)", "'*'"),
        )
    )
    specs = ", ".join(
        f"({lvl}, '{name}')" for name, lvl in _KGEN_LEVELS
    )
    return f"""
    WITH classes AS MATERIALIZED ({levels}),
    per_level AS (
      SELECT level,
             CAST(count(*) AS BIGINT) AS n_classes,
             CAST(min(sz) AS BIGINT) AS min_class_size,
             CAST(coalesce(sum(CASE WHEN sz < {_KGEN_K} THEN sz END), 0)
                  AS BIGINT) AS rows_at_risk,
             CAST(coalesce(sum(CASE WHEN sz < {_KGEN_K} THEN 1 END), 0)
                  AS BIGINT) AS classes_at_risk
      FROM classes GROUP BY level
    ),
    flagged AS (
      SELECT p.*, s.spec, (rows_at_risk = 0) AS satisfies_k
      FROM per_level p
      JOIN (VALUES {specs}) s(level, spec) ON s.level = p.level
    )
    SELECT level, spec, n_classes, min_class_size, rows_at_risk,
           classes_at_risk, satisfies_k,
           (satisfies_k AND level = (SELECT min(level) FROM flagged
                                     WHERE satisfies_k)) AS chosen
    FROM flagged
    """


@register(
    "k_anon_generalization_plan",
    oracle=_kgen_oracle(),
    description=f"k-anonymity generalization plan (k = {_KGEN_K}): the "
    "action companion to k_anonymity_audit — a monotone generalization "
    "ladder over the customer quasi-identifiers (nation -> region -> "
    "suppress; $1k balance band -> $5k -> suppress; segment -> "
    "suppress), each level reporting its equivalence-class count, "
    "smallest class, and rows/classes below k, with the FIRST "
    "k-satisfying level marked chosen — the Incognito/Mondrian lattice "
    "search collapsed to a fixed ladder in one query. Monotonicity of "
    "the ladder is what makes 'first satisfying' the minimal-loss "
    "choice: every later level only merges classes. Scale: each level "
    "is one map-side-combined aggregate bounded by the QI domain (the "
    "k_anonymity_audit shape x L levels over one shared scan + "
    "broadcast nation join); the plan output is L rows regardless of "
    "corpus size.",
    tags=("quality", "privacy", "governance", "audit", "llm-pipeline"),
)
def k_anon_generalization_plan(spark, sf_dir):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from datalakes_and_data_integration_spark.plans._util import spread

    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation")
    # spread BEFORE persist: a small parquet scan is one partition and
    # all five level aggregates would otherwise map-side-combine on a
    # single core (the ann_topk_lsh_bucketed lesson; no-op on a real
    # cluster where the scan already has >= cores splits)
    base = spread(
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
            F.col("c_nationkey").cast("string").alias("nat"),
            F.col("n_regionkey").cast("string").alias("reg"),
            F.floor(F.col("c_acctbal") / 1000).alias("bal1000"),
            F.floor(F.col("c_acctbal") / 5000).alias("bal5000"),
            F.col("c_mktsegment").alias("segment"),
        ),
        spark,
    ).persist()  # five level aggregates share one scan
    star = F.lit("*")
    level_keys = [
        (0, F.col("nat"), F.col("bal1000"), F.col("segment")),
        (1, F.col("reg"), F.col("bal1000"), F.col("segment")),
        (2, F.col("reg"), F.col("bal5000"), F.col("segment")),
        (3, F.col("reg"), F.col("bal5000"), star),
        (4, star, F.col("bal5000"), star),
    ]
    per = None
    for lvl, geo, bal, seg in level_keys:
        classes = base.groupBy(
            geo.alias("geo"), bal.alias("bal"), seg.alias("seg")
        ).agg(F.count("*").alias("sz"))
        agg = classes.agg(
            F.lit(lvl).alias("level"),
            F.count("*").cast("long").alias("n_classes"),
            F.min("sz").cast("long").alias("min_class_size"),
            F.coalesce(
                F.sum(F.when(F.col("sz") < _KGEN_K, F.col("sz"))), F.lit(0)
            )
            .cast("long")
            .alias("rows_at_risk"),
            F.coalesce(
                F.sum(F.when(F.col("sz") < _KGEN_K, 1)), F.lit(0)
            )
            .cast("long")
            .alias("classes_at_risk"),
        )
        per = agg if per is None else per.unionByName(agg)
    specs = spark.createDataFrame(
        [(lvl, name) for name, lvl in _KGEN_LEVELS], "level int, spec string"
    )
    flagged = per.join(F.broadcast(specs), "level").withColumn(
        "satisfies_k", F.col("rows_at_risk") == 0
    )
    # scale-ok: unpartitioned window over the L = 5 ladder rows
    w = Window.partitionBy()
    return flagged.withColumn(
        "chosen",
        F.col("satisfies_k")
        & (
            F.col("level")
            == F.min(
                F.when(F.col("satisfies_k"), F.col("level"))
            ).over(w)
        ),
    ).select(
        "level", "spec", "n_classes", "min_class_size", "rows_at_risk",
        "classes_at_risk", "satisfies_k", "chosen",
    )
