"""Experimentation / product-analytics queries (rounds 8-9).

The A/B-testing surface a lakehouse analytics engine serves: seeded
deterministic assignment with a sample-ratio-mismatch (SRM) audit,
CUPED variance-reduced metric readout (Deng et al., WSDM'13), the
two-proportion z-test and Mann-Whitney rank-sum significance readouts
(round 9), and the incremental CUPED-state maintenance twin. All are
events-table queries
with full DuckDB oracles; every stochastic-looking
quantity is md5-derived and every aggregate routes through DECIMAL
before a fixed-order DOUBLE epilogue, so the statistics are
hash-exact cross-engine (the money-aggregate determinism recipe applied
to experiment analytics — the same rails quality_scorer_agreement runs
rank statistics on).

Experiment frame shared by both queries: users are assigned to
control/treatment by a seeded hash of user_id (50/50 split), the first
_AB_PRE_DAYS days of the events span are the PRE-period (the CUPED
covariate window), and the remainder is the experiment period the
metrics read.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datalakes_and_data_integration_spark.functions.hashing import (
    hash60_seeded,
    hash60_sql_duck,
)
from datalakes_and_data_integration_spark.plans._util import (
    T,
    doubled_midranks,
    r6_sql,
)
from datalakes_and_data_integration_spark.plans.registry import register

_AB_SEED = 33
_AB_PRE_DAYS = 10
_AB_CHI2_CRIT = "3.841459"  # chi-square df=1, alpha=0.05
_AB_CONV_VALUE = 135  # high-value purchase threshold (the conversion event)


def _arm_duck() -> str:
    h = hash60_sql_duck("CAST(user_id AS VARCHAR)", seed=_AB_SEED)
    return f"CASE WHEN {h} % 100 >= 50 THEN 'treatment' ELSE 'control' END"


def _arm_spark():
    h = hash60_seeded(F.col("user_id").cast("string"), _AB_SEED)
    return F.when(h % 100 >= 50, "treatment").otherwise("control")


@register(
    "ab_assignment_srm_audit",
    oracle=f"""
    WITH bounds AS (
      SELECT min(ts) + INTERVAL {_AB_PRE_DAYS} DAY AS exp_start FROM events
    ),
    assigned AS MATERIALIZED (
      SELECT user_id, {_arm_duck()} AS arm,
             CAST(coalesce(sum(CASE WHEN ts >= (SELECT exp_start FROM bounds)
                                     AND event_type = 'purchase'
                                     AND value >= {_AB_CONV_VALUE}
                                    THEN 1 END), 0) > 0 AS BOOLEAN)
               AS converted,
             CAST(ROUND(coalesce(sum(CASE WHEN ts >= (SELECT exp_start
                                                      FROM bounds)
                                          THEN CAST(value AS DECIMAL(18,6))
                                     END), 0), 4) AS DOUBLE) AS exp_value
      FROM events GROUP BY 1, 2
    ),
    arms AS (
      SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
             CAST(coalesce(sum(CASE WHEN converted THEN 1 END), 0)
                  AS BIGINT) AS n_converters,
             CAST(ROUND(sum(CAST(exp_value AS DECIMAL(18,4))), 4)
                  AS DOUBLE) AS total_exp_value
      FROM assigned GROUP BY arm
    ),
    srm AS (
      SELECT CAST(sum(n_users) AS BIGINT) AS n_total,
             CAST(sum(CASE WHEN arm = 'control' THEN n_users ELSE 0 END)
                - sum(CASE WHEN arm = 'treatment' THEN n_users ELSE 0 END)
                AS BIGINT) AS diff
      FROM arms
    )
    SELECT a.arm, a.n_users, a.n_converters,
           CAST((1000 * a.n_converters) // a.n_users AS BIGINT)
             AS conversion_permille,
           a.total_exp_value,
           round(CAST(s.diff * s.diff AS DOUBLE) / s.n_total, 6)
             AS srm_chi2,
           (CAST(s.diff * s.diff AS DOUBLE) / s.n_total
              > {_AB_CHI2_CRIT}) AS srm_alarm
    FROM arms a CROSS JOIN srm s
    """,
    description=f"A/B assignment + sample-ratio-mismatch audit: users "
    f"assign to control/treatment by a seeded md5 hash (50/50 — the "
    "deterministic bucketing every experimentation platform runs), the "
    f"first {_AB_PRE_DAYS} days of the events span are pre-period, and "
    "each arm reports enrolled users, converters (a high-value "
    f"purchase — value >= {_AB_CONV_VALUE} — in the experiment "
    "period), integer conversion permille, and the "
    "decimal-exact experiment-period value total. The SRM check is the "
    "first gate any readout must pass: chi-square of the observed "
    "split vs 50/50 (diff^2/total for two arms, df=1), alarmed at the "
    f"5% critical value {_AB_CHI2_CRIT} — a triggered SRM means "
    "assignment or logging is broken and every downstream metric is "
    "untrustworthy. Scale: one map-side-combined per-(user, arm) "
    "aggregate then a 2-row arm rollup; the hash rides the scan, no "
    "assignment table is ever materialized or shuffled.",
    tags=("experiment", "ab-test", "audit", "quality"),
    bench=True,  # promoted r8: round-8 flagship
)
def ab_assignment_srm_audit(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    exp_start = F.broadcast(
        ev.agg(
            (F.min("ts") + F.expr(f"INTERVAL {_AB_PRE_DAYS} DAYS")).alias(
                "exp_start"
            )
        )
    )
    assigned = (
        ev.crossJoin(exp_start)  # scale-ok: 1-row broadcast scalar
        .groupBy(F.col("user_id"), _arm_spark().alias("arm"))
        .agg(
            (
                F.coalesce(
                    F.sum(
                        F.when(
                            (F.col("ts") >= F.col("exp_start"))
                            & (F.col("event_type") == "purchase")
                            & (F.col("value") >= _AB_CONV_VALUE),
                            1,
                        )
                    ),
                    F.lit(0),
                )
                > 0
            ).alias("converted"),
            F.round(
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("ts") >= F.col("exp_start"),
                            F.col("value").cast("decimal(18,6)"),
                        )
                    ),
                    F.lit(0),
                ),
                4,
            )
            .cast("double")
            .alias("exp_value"),
        )
    )
    arms = assigned.groupBy("arm").agg(
        F.count("*").cast("long").alias("n_users"),
        F.coalesce(F.sum(F.when(F.col("converted"), 1)), F.lit(0))
        .cast("long")
        .alias("n_converters"),
        F.round(F.sum(F.col("exp_value").cast("decimal(18,4)")), 4)
        .cast("double")
        .alias("total_exp_value"),
    )
    srm = arms.agg(
        F.sum("n_users").cast("long").alias("n_total"),
        (
            F.sum(F.when(F.col("arm") == "control", F.col("n_users")).otherwise(0))
            - F.sum(
                F.when(F.col("arm") == "treatment", F.col("n_users")).otherwise(0)
            )
        )
        .cast("long")
        .alias("diff"),
    )
    chi2 = F.col("diff").cast("double") * F.col("diff").cast("double") / F.col(
        "n_total"
    )
    return (
        arms.crossJoin(F.broadcast(srm))  # scale-ok: 2 arms x 1-row stats
        .select(
            "arm",
            "n_users",
            "n_converters",
            F.expr("CAST((1000 * n_converters) div n_users AS BIGINT)").alias(
                "conversion_permille"
            ),
            "total_exp_value",
            F.round(
                F.expr("CAST(diff * diff AS DOUBLE) / n_total"), 6
            ).alias("srm_chi2"),
            (
                F.expr("CAST(diff * diff AS DOUBLE) / n_total")
                > F.expr(_AB_CHI2_CRIT)
            ).alias("srm_alarm"),
        )
    )


# Two-proportion z-test epilogue: every input is an exact BIGINT count
# cast to DOUBLE, and both engines execute this identical expression
# text, so z / CI bounds are bit-identical cross-engine (the CUPED
# determinism rule applied to the significance readout).
_ZTEST_EPILOGUE = """
  round(xc / nc, 6) AS rate_control,
  round(xt / nt, 6) AS rate_treatment,
  round(xt / nt - xc / nc, 6) AS lift,
  round((xt / nt - xc / nc)
        / sqrt(((xc + xt) / (nc + nt)) * (1 - (xc + xt) / (nc + nt))
               * (1 / nc + 1 / nt)), 6) AS z_score,
  round((xt / nt - xc / nc)
        - 1.959964 * sqrt((xc / nc) * (1 - xc / nc) / nc
                          + (xt / nt) * (1 - xt / nt) / nt), 6)
    AS ci_lo,
  round((xt / nt - xc / nc)
        + 1.959964 * sqrt((xc / nc) * (1 - xc / nc) / nc
                          + (xt / nt) * (1 - xt / nt) / nt), 6)
    AS ci_hi,
  (abs((xt / nt - xc / nc)
       / sqrt(((xc + xt) / (nc + nt)) * (1 - (xc + xt) / (nc + nt))
              * (1 / nc + 1 / nt))) > 1.959964) AS significant_95
"""


@register(
    "ab_proportion_ztest",
    oracle=f"""
    WITH bounds AS (
      SELECT min(ts) + INTERVAL {_AB_PRE_DAYS} DAY AS exp_start FROM events
    ),
    assigned AS MATERIALIZED (
      SELECT user_id, {_arm_duck()} AS arm,
             CAST(coalesce(sum(CASE WHEN ts >= (SELECT exp_start FROM bounds)
                                     AND event_type = 'purchase'
                                     AND value >= {_AB_CONV_VALUE}
                                    THEN 1 END), 0) > 0 AS BOOLEAN)
               AS converted
      FROM events GROUP BY 1, 2
    ),
    counts AS (
      SELECT
        CAST(sum(CASE WHEN arm = 'control' THEN 1 ELSE 0 END) AS DOUBLE)
          AS nc,
        CAST(sum(CASE WHEN arm = 'treatment' THEN 1 ELSE 0 END) AS DOUBLE)
          AS nt,
        CAST(sum(CASE WHEN arm = 'control' AND converted
                 THEN 1 ELSE 0 END) AS DOUBLE) AS xc,
        CAST(sum(CASE WHEN arm = 'treatment' AND converted
                 THEN 1 ELSE 0 END) AS DOUBLE) AS xt
      FROM assigned
    )
    SELECT CAST(nc AS BIGINT) AS n_control,
           CAST(nt AS BIGINT) AS n_treatment,
           CAST(xc AS BIGINT) AS conv_control,
           CAST(xt AS BIGINT) AS conv_treatment,
           {_ZTEST_EPILOGUE}
    FROM counts
    """,
    description="Two-proportion z-test on the experiment's conversion "
    "rates — the significance readout every A/B platform ships next to "
    "the SRM gate and the CUPED-adjusted means: pooled-variance z "
    "statistic for H0 rate_t = rate_c, unpooled Wald 95% CI on the "
    "lift, and the two-sided significance flag at z = 1.959964. Shares "
    "ab_assignment_srm_audit's frame verbatim (seeded md5 assignment, "
    "pre-period cutoff, high-value-purchase conversion), so the four "
    "readouts triangulate on identical counts. Determinism: the "
    "statistics are one fixed DOUBLE expression text over exact BIGINT "
    "counts, executed identically by both engines — no distributional "
    "tables, no iteration. Scale: one map-side-combined per-(user, "
    "arm) aggregate then a single 4-number global reduce; the "
    "assignment hash rides the scan and nothing user-grain ever "
    "shuffles twice.",
    tags=("experiment", "ab-test", "stats", "significance"),
)
def ab_proportion_ztest(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    assigned = (
        ev.crossJoin(_exp_start(ev))  # scale-ok: 1-row broadcast scalar
        .groupBy(F.col("user_id"), _arm_spark().alias("arm"))
        .agg(
            (
                F.coalesce(
                    F.sum(
                        F.when(
                            (F.col("ts") >= F.col("exp_start"))
                            & (F.col("event_type") == "purchase")
                            & (F.col("value") >= _AB_CONV_VALUE),
                            1,
                        )
                    ),
                    F.lit(0),
                )
                > 0
            ).alias("converted")
        )
    )
    counts = assigned.agg(
        F.sum(F.when(F.col("arm") == "control", 1).otherwise(0))
        .cast("double")
        .alias("nc"),
        F.sum(F.when(F.col("arm") == "treatment", 1).otherwise(0))
        .cast("double")
        .alias("nt"),
        F.sum(
            F.when((F.col("arm") == "control") & F.col("converted"), 1)
            .otherwise(0)
        )
        .cast("double")
        .alias("xc"),
        F.sum(
            F.when((F.col("arm") == "treatment") & F.col("converted"), 1)
            .otherwise(0)
        )
        .cast("double")
        .alias("xt"),
    )
    return counts.selectExpr(
        "CAST(nc AS BIGINT) AS n_control",
        "CAST(nt AS BIGINT) AS n_treatment",
        "CAST(xc AS BIGINT) AS conv_control",
        "CAST(xt AS BIGINT) AS conv_treatment",
        *[e.strip() for e in _ZTEST_EPILOGUE.strip().split(",\n")],
    )


# Fixed-order DOUBLE epilogue shared verbatim by both engines: every
# moment arrives as an exact decimal sum cast to DOUBLE, and the same
# expression TEXT computes the statistics, so each IEEE op sequence is
# identical cross-engine (the CBO-audit determinism pattern).
_CUPED_EPILOGUE = """
  round(sy / n, 6) AS mean_y,
  round(sy / n - theta * (sx / n - gmx), 6) AS mean_y_cuped,
  round(syy / n - (sy / n) * (sy / n), 6) AS var_y,
  round((syy / n - (sy / n) * (sy / n))
        - 2 * theta * (sxy / n - (sx / n) * (sy / n))
        + theta * theta * (sxx / n - (sx / n) * (sx / n)), 6)
    AS var_y_cuped
"""


def _cuped_oracle() -> str:
    return f"""
    WITH bounds AS (
      SELECT min(ts) + INTERVAL {_AB_PRE_DAYS} DAY AS exp_start FROM events
    ),
    per_user AS MATERIALIZED (
      SELECT user_id, {_arm_duck()} AS arm,
             CAST(coalesce(sum(CASE WHEN ts < (SELECT exp_start FROM bounds)
                                    THEN CAST(value AS DECIMAL(18,6)) END),
                           0) AS DECIMAL(18,6)) AS x,
             CAST(coalesce(sum(CASE WHEN ts >= (SELECT exp_start FROM bounds)
                                    THEN CAST(value AS DECIMAL(18,6)) END),
                           0) AS DECIMAL(18,6)) AS y
      FROM events GROUP BY 1, 2
    ),
    moments AS (
      SELECT arm,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(x) AS DOUBLE) AS sx,
             CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(CAST(CAST(x AS DECIMAL(19,6)) * x
                           AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(CAST(x AS DECIMAL(19,6)) * y
                           AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(CAST(y AS DECIMAL(19,6)) * y
                           AS DECIMAL(38,12))) AS DOUBLE) AS syy
      FROM per_user GROUP BY arm
    ),
    pooled AS (
      SELECT CAST(sum(CAST(n AS DECIMAL(28,6))) AS DOUBLE) AS n,
             CAST(sum(CAST(sx AS DECIMAL(38,10))) AS DOUBLE) AS sx,
             CAST(sum(CAST(sy AS DECIMAL(38,10))) AS DOUBLE) AS sy,
             CAST(sum(CAST(sxx AS DECIMAL(38,10))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(sxy AS DECIMAL(38,10))) AS DOUBLE) AS sxy
      FROM moments
    ),
    theta AS (
      SELECT CASE WHEN sxx / n - (sx / n) * (sx / n) = 0 THEN 0
                  ELSE (sxy / n - (sx / n) * (sy / n))
                       / (sxx / n - (sx / n) * (sx / n)) END AS theta,
             sx / n AS gmx
      FROM pooled
    )
    SELECT m.arm, CAST(m.n AS BIGINT) AS n_users,
           round(t.theta, 6) AS theta,
           {_CUPED_EPILOGUE}
    FROM moments m CROSS JOIN theta t
    """


def _ab_per_user(ev, exp_start, extra: tuple = ()):
    """Per-(user, arm) exact decimal covariate/metric sums: x = value in
    the pre-period, y = value in the experiment period. Additive across
    any row partitioning of the events — the property the streaming
    maintenance twin sum-merges on.

    x/y are deliberately DECIMAL(18,6), NOT wider: the moment stage
    squares them, and (18,6)x(18,6) -> (37,12) in Spark / (36,12) in
    DuckDB — exact in BOTH engines before the shared round-to-(38,10).
    At (28,6) operands Spark's product needs (57,12), overflows the
    38-digit ceiling, and silently rounds to scale 6 while DuckDB keeps
    the exact product — sxx/sxy/syy fork as soon as per-user sums carry
    >3 decimal digits (round-9 ADVICE finding, regression-pinned in
    tests/test_experiment.py). (18,6) leaves 12 integer digits for a
    per-user period sum — 10^12, orders of magnitude above any
    per-user event-value total.

    ``extra`` names pass-through grouping columns (the batched
    maintenance path labels rows with a batch id and builds every
    weekly increment in one scan); the default path is unchanged."""
    return (
        ev.crossJoin(exp_start)  # scale-ok: 1-row broadcast scalar
        .groupBy(*extra, F.col("user_id"), _arm_spark().alias("arm"))
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("ts") < F.col("exp_start"),
                        F.col("value").cast("decimal(18,6)"),
                    )
                ),
                F.lit(0),
            )
            .cast("decimal(18,6)")
            .alias("x"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("ts") >= F.col("exp_start"),
                        F.col("value").cast("decimal(18,6)"),
                    )
                ),
                F.lit(0),
            )
            .cast("decimal(18,6)")
            .alias("y"),
        )
    )


def _exp_start(ev):
    return F.broadcast(
        ev.agg(
            (F.min("ts") + F.expr(f"INTERVAL {_AB_PRE_DAYS} DAYS")).alias(
                "exp_start"
            )
        )
    )


def _ab_per_user_y(ev, exp_start):
    """Per-(user, arm) experiment-period metric y only — ONE definition
    of the metric the rank-sum and bootstrap readouts consume (the
    x-covariate twin is _ab_per_user; a code-review pass found the
    y-leg inlined twice, which would let a metric change fork the
    bootstrap CI from CUPED)."""
    return (
        ev.crossJoin(exp_start)  # scale-ok: 1-row broadcast scalar
        .groupBy(F.col("user_id"), _arm_spark().alias("arm"))
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("ts") >= F.col("exp_start"),
                        F.col("value").cast("decimal(18,6)"),
                    )
                ),
                F.lit(0),
            )
            .cast("decimal(18,6)")
            .alias("y")
        )
    )


def _cuped_readout(per_user):
    """Moments -> pooled theta -> per-arm epilogue; shared verbatim by
    the batch query and the maintained-state twin so the readout can
    never fork between them."""
    moments = per_user.groupBy("arm").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.expr("CAST(x * x AS DECIMAL(38,12))"))
        .cast("double")
        .alias("sxx"),
        F.sum(F.expr("CAST(x * y AS DECIMAL(38,12))"))
        .cast("double")
        .alias("sxy"),
        F.sum(F.expr("CAST(y * y AS DECIMAL(38,12))"))
        .cast("double")
        .alias("syy"),
    ).persist()  # pooled theta + per-arm epilogue both read it
    pooled = moments.agg(
        F.sum(F.expr("CAST(n AS DECIMAL(28,6))")).cast("double").alias("n"),
        F.sum(F.expr("CAST(sx AS DECIMAL(38,10))")).cast("double").alias("sx"),
        F.sum(F.expr("CAST(sy AS DECIMAL(38,10))")).cast("double").alias("sy"),
        F.sum(F.expr("CAST(sxx AS DECIMAL(38,10))"))
        .cast("double")
        .alias("sxx"),
        F.sum(F.expr("CAST(sxy AS DECIMAL(38,10))"))
        .cast("double")
        .alias("sxy"),
    )
    theta = pooled.select(
        F.expr(
            "CASE WHEN sxx / n - (sx / n) * (sx / n) = 0 THEN 0 "
            "ELSE (sxy / n - (sx / n) * (sy / n)) "
            "/ (sxx / n - (sx / n) * (sx / n)) END"
        ).alias("theta"),
        F.expr("sx / n").alias("gmx"),
    )
    return (
        moments.crossJoin(F.broadcast(theta))  # scale-ok: 2 arms x 1 row
        .selectExpr(
            "arm",
            "CAST(n AS BIGINT) AS n_users",
            "round(theta, 6) AS theta",
            *[
                e.strip()
                for e in _CUPED_EPILOGUE.strip().split(",\n")
            ],
        )
    )


@register(
    "ab_metric_cuped_adjustment",
    oracle=_cuped_oracle(),
    description="CUPED variance-reduced experiment readout (Deng et "
    "al., WSDM'13 — the industry-standard sensitivity boost): per-user "
    "pre-period value is the covariate X, experiment-period value the "
    "metric Y; theta = cov(X,Y)/var(X) fits on the POOLED arms (the "
    "unbiasedness condition — theta must not read the treatment "
    "split), and each arm reports raw vs adjusted mean and variance "
    "(Var(Y - theta X) = VarY - 2 theta Cov + theta^2 VarX from the "
    "same moment sums). Every moment is an exact DECIMAL sum; the "
    "DOUBLE epilogue is one shared expression text, so both engines "
    "execute the identical IEEE op sequence (the estimator-arithmetic "
    "determinism rule). Scale: one per-user aggregate (map-side "
    "combined), then arm-grain moment rows — the covariate never "
    "joins back to the fact table, and the 2x7 moment frame is the "
    "whole reduce state.",
    tags=("experiment", "ab-test", "variance-reduction", "stats"),
)
def ab_metric_cuped_adjustment(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    return _cuped_readout(_ab_per_user(ev, _exp_start(ev)))


@register(
    "streaming_ab_moments_maintenance",
    oracle=_cuped_oracle(),
    description="Incremental CUPED readout: the experiment metric state "
    "— per-(user, arm) exact decimal covariate/metric sums — is "
    "maintained across span-derived weekly event batches by the shared "
    "ledgered sum-merge (streaming/sketch_maintenance.merge_state: "
    "sum-merge is NOT idempotent, so exactly-once lives in the "
    "applied-batch ledger committed atomically with the state — the "
    "same design point as the CMS sketch, fourth member of the merge-"
    "algebra family), then the CUPED readout runs on the MAINTAINED "
    "state through the exact code path of ab_metric_cuped_adjustment "
    "(_cuped_readout — one definition, so the incremental readout "
    "cannot fork from the batch one). The shared oracle proves "
    "maintained == batch-built: per-user decimal sums are associative, "
    "so any batching of the event log lands on identical state. Scale: "
    "state is O(users) narrow rows (the per-key-state shape of the "
    "streaming dedup/SCD2 twins), the merge reads only the weekly "
    "increments — built in one batch-labeled scan and applied in ONE "
    "ledgered state transition, fold-identical by sum associativity — "
    "and a replayed batch is a ledger no-op (pinned by "
    "test).",
    tags=("experiment", "ab-test", "streaming", "incremental", "stats"),
)
def streaming_ab_moments_maintenance(spark, sf_dir):
    from datalakes_and_data_integration_spark.plans._util import state_tmp
    from datalakes_and_data_integration_spark.plans.streaming_extra import (
        _week_bid,
        _weekly_bounds,
    )
    from datalakes_and_data_integration_spark.streaming.sketch_maintenance import (
        BID,
        merge_state,
    )

    ev = T(spark, sf_dir, "events")
    exp_start = _exp_start(ev)
    state = state_tmp("ab_moments_q")
    weeks = _weekly_bounds(ev)
    if not weeks:  # empty events table -> zero batches, empty state;
        # the readout of an empty per-user frame is the oracle's 0 rows
        return _cuped_readout(
            spark.createDataFrame(
                [],
                "user_id BIGINT, arm STRING, x DECIMAL(18,6),"
                " y DECIMAL(18,6)",
            )
        )
    # Every weekly per-(user, arm) increment in ONE scan (batch-labeled
    # grouping through the shared _ab_per_user), merged in ONE ledgered
    # state transition — exact decimal sums are associative, so the
    # single transition equals the per-week fold (guide §2.4 /
    # VERDICT r9 #1: the fold paid the collect+write job rounds 5x).
    inc = _ab_per_user(
        ev.withColumn(BID, _week_bid(weeks)), exp_start, extra=(BID,)
    )
    merged = merge_state(
        spark,
        state,
        inc,
        batch_ids=list(range(len(weeks) - 1)),
        key_cols=["user_id", "arm"],
        aggs={"x": "sum", "y": "sum"},
    )
    # merge widened the decimals (sum(DECIMAL(18,6)) -> (28,6)); restore
    # the per-user schema the readout's moment casts expect
    per_user = merged.select(
        "user_id",
        "arm",
        F.col("x").cast("decimal(18,6)").alias("x"),
        F.col("y").cast("decimal(18,6)").alias("y"),
    )
    return _cuped_readout(per_user)


# ---------------------------------------------------------------------------
# Mann-Whitney U (Wilcoxon rank-sum) on the experiment metric — the
# nonparametric readout next to the z-test (proportions) and CUPED
# (variance-reduced means). Runs on the SAME per-(user, arm) metric
# frame as CUPED (_ab_per_user's experiment-period sum y), so the four
# readouts triangulate on one definition of the metric.
# ---------------------------------------------------------------------------


def _mwu_oracle() -> str:
    return f"""
    WITH bounds AS (
      SELECT min(ts) + INTERVAL {_AB_PRE_DAYS} DAY AS exp_start FROM events
    ),
    per_user AS MATERIALIZED (
      SELECT user_id, {_arm_duck()} AS arm,
             CAST(coalesce(sum(CASE WHEN ts >= (SELECT exp_start FROM bounds)
                                    THEN CAST(value AS DECIMAL(18,6)) END),
                           0) AS DECIMAL(18,6)) AS y
      FROM events GROUP BY 1, 2
    ),
    g AS (SELECT y, CAST(count(*) AS BIGINT) AS cnt FROM per_user GROUP BY y),
    w AS (
      SELECT y, cnt,
             CAST(coalesce(sum(cnt) OVER (ORDER BY y
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cb
      FROM g
    ),
    d AS (
      SELECT v.arm, 2 * w.cb + w.cnt + 1 AS dm
      FROM per_user v JOIN w ON w.y = v.y
    ),
    agg AS (
      SELECT
        CAST(sum(CASE WHEN arm = 'control' THEN 1 ELSE 0 END) AS BIGINT)
          AS nc,
        CAST(sum(CASE WHEN arm = 'treatment' THEN 1 ELSE 0 END) AS BIGINT)
          AS nt,
        CAST(sum(CASE WHEN arm = 'treatment' THEN dm ELSE 0 END) AS BIGINT)
          AS r2t
      FROM d
    ),
    ties AS (
      SELECT CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tsum FROM g
    )
    SELECT nc AS n_control, nt AS n_treatment,
           CAST(r2t - nt * (nt + 1) AS BIGINT) AS u2_treatment,
           tsum AS tie_term,
           round(CAST(r2t - nt * (nt + 1) AS DOUBLE) / 2, 1) AS u_treatment,
           CASE WHEN (nc + nt + 1) - CAST(tsum AS DOUBLE)
                     / ((nc + nt) * (nc + nt - 1.0)) <= 0 THEN 0
                ELSE round((CAST(r2t - nt * (nt + 1) AS DOUBLE)
                            - CAST(nc AS DOUBLE) * nt)
                     / (2 * sqrt((CAST(nc AS DOUBLE) * nt / 12)
                         * ((nc + nt + 1) - CAST(tsum AS DOUBLE)
                            / ((nc + nt) * (nc + nt - 1.0))))), 6) END
             AS z_score,
           CASE WHEN (nc + nt + 1) - CAST(tsum AS DOUBLE)
                     / ((nc + nt) * (nc + nt - 1.0)) <= 0 THEN FALSE
                ELSE abs((CAST(r2t - nt * (nt + 1) AS DOUBLE)
                          - CAST(nc AS DOUBLE) * nt)
                     / (2 * sqrt((CAST(nc AS DOUBLE) * nt / 12)
                         * ((nc + nt + 1) - CAST(tsum AS DOUBLE)
                            / ((nc + nt) * (nc + nt - 1.0))))))
                     > 1.959964 END AS significant_95
    FROM agg CROSS JOIN ties
    """


@register(
    "ab_mann_whitney_u",
    oracle=_mwu_oracle(),
    description="Mann-Whitney U (Wilcoxon rank-sum) on the experiment "
    "metric — the nonparametric significance readout every platform "
    "offers next to the t/z tests, robust to the heavy-tailed revenue "
    "distributions that break normal-theory readouts: per-user "
    "experiment-period value (the SAME decimal metric CUPED adjusts) "
    "is pooled across arms and ranked with integer DOUBLED midranks "
    "(ties get the exact midrank — the quality_scorer_agreement "
    "recipe), U = R_t - n_t(n_t+1)/2 carried doubled so every rank "
    "statistic is an exact BIGINT, and the tie-corrected normal "
    "approximation z = (U - n_c n_t / 2) / sqrt(n_c n_t / 12 * "
    "((n + 1) - sum(t^3 - t) / (n(n-1)))) is one fixed DOUBLE "
    "expression text over those integers — bit-identical cross-engine, "
    "with the all-values-tied degenerate case guarded to z = 0. "
    "Scale: one map-side-combined per-user aggregate, one grouped "
    "count per distinct metric value, one cumulative window over "
    "DISTINCT values (bounded by the value grid, not users), and a "
    "4-number reduce — no per-user sort ever materializes a global "
    "ranking.",
    tags=("experiment", "ab-test", "stats", "nonparametric"),
)
def ab_mann_whitney_u(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    per_user = _ab_per_user_y(ev, _exp_start(ev)).persist()  # value-grouping pass + midrank join
    g = per_user.groupBy("y").agg(F.count("*").cast("long").alias("cnt"))
    w = doubled_midranks(g, "y")
    d = per_user.join(F.broadcast(w), "y").select("arm", "dm")
    agg = d.agg(
        F.sum(F.when(F.col("arm") == "control", 1).otherwise(0))
        .cast("long")
        .alias("nc"),
        F.sum(F.when(F.col("arm") == "treatment", 1).otherwise(0))
        .cast("long")
        .alias("nt"),
        F.sum(F.when(F.col("arm") == "treatment", F.col("dm")).otherwise(0))
        .cast("long")
        .alias("r2t"),
    )
    ties = g.agg(
        F.sum(
            F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")
        )
        .cast("long")
        .alias("tsum")
    )
    return (
        agg.crossJoin(F.broadcast(ties))  # scale-ok: 1-row x 1-row stats
        .selectExpr(
            "nc AS n_control",
            "nt AS n_treatment",
            "CAST(r2t - nt * (nt + 1) AS BIGINT) AS u2_treatment",
            "tsum AS tie_term",
            "round(CAST(r2t - nt * (nt + 1) AS DOUBLE) / 2, 1)"
            " AS u_treatment",
            """CASE WHEN (nc + nt + 1) - CAST(tsum AS DOUBLE)
                     / ((nc + nt) * (nc + nt - 1.0)) <= 0 THEN 0
                ELSE round((CAST(r2t - nt * (nt + 1) AS DOUBLE)
                            - CAST(nc AS DOUBLE) * nt)
                     / (2 * sqrt((CAST(nc AS DOUBLE) * nt / 12)
                         * ((nc + nt + 1) - CAST(tsum AS DOUBLE)
                            / ((nc + nt) * (nc + nt - 1.0))))), 6) END
             AS z_score""",
            """CASE WHEN (nc + nt + 1) - CAST(tsum AS DOUBLE)
                     / ((nc + nt) * (nc + nt - 1.0)) <= 0 THEN FALSE
                ELSE abs((CAST(r2t - nt * (nt + 1) AS DOUBLE)
                          - CAST(nc AS DOUBLE) * nt)
                     / (2 * sqrt((CAST(nc AS DOUBLE) * nt / 12)
                         * ((nc + nt + 1) - CAST(tsum AS DOUBLE)
                            / ((nc + nt) * (nc + nt - 1.0))))))
                     > 1.959964 END AS significant_95""",
        )
    )


# ---------------------------------------------------------------------------
# Poisson bootstrap CI on the experiment metric — the resampling CI the
# big experimentation platforms actually run at scale (per-unit
# Poisson(1) weights instead of multinomial resampling: every replicate
# is a weighted aggregate of the SAME pass over the data, so R
# replicates cost one scan and R x |arms| reduce cells, never R copies
# of the corpus). Weights are deterministic: u = hash60(rep # user) /
# 2^60 inverted through the Poisson(1) CDF thresholds, which are Python
# float literals inlined into BOTH engine texts — identical literal
# text, identical comparisons, identical weights.
# ---------------------------------------------------------------------------

import math as _math

_BOOT_SEED = 77
_BOOT_REPS = 64
# Poisson(1) CDF thresholds for k = 0..5 (k = 6 is the tail): cumulative
# e^-1 * sum 1/i!. Python floats; {t!r} inlining gives both engines the
# same 17-significant-digit literals.
_BOOT_THRESH: list[float] = []
_c = 0.0
_term = _math.exp(-1.0)
for _k in range(6):
    _c += _term
    _BOOT_THRESH.append(_c)
    _term = _term / (_k + 1)
del _c, _term, _k

# lo/hi order-statistic indices of the R sorted replicate diffs for a
# ~95% percentile interval: ceil((R+1) * 0.025) and R + 1 - that.
_BOOT_LO = (25 * (_BOOT_REPS + 1) + 999) // 1000
_BOOT_HI = _BOOT_REPS + 1 - _BOOT_LO


def _boot_weight_sql(u_expr: str) -> str:
    """Shared CASE text: invert u in [0,1) through the Poisson(1) CDF."""
    arms = " ".join(
        f"WHEN {u_expr} < {t!r} THEN {k}"
        for k, t in enumerate(_BOOT_THRESH)
    )
    return f"(CASE {arms} ELSE 6 END)"


_BOOT_DIFF = """CASE WHEN nt = 0 OR nc = 0 THEN 0.0
         ELSE CAST(wyt AS DOUBLE) / CAST(nt AS DOUBLE)
              - CAST(wyc AS DOUBLE) / CAST(nc AS DOUBLE) END"""


def _bootstrap_oracle() -> str:
    from datalakes_and_data_integration_spark.functions.hashing import (
        hash60_sql_duck,
    )

    h = hash60_sql_duck(
        "concat(CAST(r.r AS VARCHAR), '#', CAST(p.user_id AS VARCHAR))",
        seed=_BOOT_SEED,
    )
    w = _boot_weight_sql(
        f"(CAST({h} AS DOUBLE) / 1152921504606846976.0)"
    )
    return f"""
    WITH bounds AS (
      SELECT min(ts) + INTERVAL {_AB_PRE_DAYS} DAY AS exp_start FROM events
    ),
    per_user AS MATERIALIZED (
      SELECT user_id, {_arm_duck()} AS arm,
             CAST(coalesce(sum(CASE WHEN ts >= (SELECT exp_start FROM bounds)
                                    THEN CAST(value AS DECIMAL(18,6)) END),
                           0) AS DECIMAL(18,6)) AS y
      FROM events GROUP BY 1, 2
    ),
    point AS (
      SELECT CAST(sum(CASE WHEN arm = 'control' THEN 1 ELSE 0 END)
                  AS BIGINT) AS nc,
             CAST(sum(CASE WHEN arm = 'treatment' THEN 1 ELSE 0 END)
                  AS BIGINT) AS nt,
             coalesce(sum(CASE WHEN arm = 'control' THEN y END), 0) AS wyc,
             coalesce(sum(CASE WHEN arm = 'treatment' THEN y END), 0) AS wyt
      FROM per_user
    ),
    reps AS (SELECT CAST(i AS INT) AS r FROM range({_BOOT_REPS}) t(i)),
    weighted AS (
      SELECT r.r, p.arm, p.y, {w} AS wgt
      FROM per_user p CROSS JOIN reps r
    ),
    rep_arm AS (
      SELECT r, arm, CAST(sum(wgt) AS BIGINT) AS n_eff,
             coalesce(sum(CAST(wgt AS DECIMAL(10,0)) * y), 0) AS wy
      FROM weighted GROUP BY r, arm
    ),
    rep_grain AS (
      SELECT r,
             CAST(coalesce(sum(CASE WHEN arm = 'control' THEN n_eff END), 0)
                  AS BIGINT) AS nc,
             CAST(coalesce(sum(CASE WHEN arm = 'treatment' THEN n_eff END),
                           0) AS BIGINT) AS nt,
             coalesce(sum(CASE WHEN arm = 'control' THEN wy END), 0) AS wyc,
             coalesce(sum(CASE WHEN arm = 'treatment' THEN wy END), 0) AS wyt
      FROM rep_arm GROUP BY r
    ),
    diffs AS (
      SELECT r, {_BOOT_DIFF} AS diff FROM rep_grain
    ),
    ranked AS (
      SELECT diff, row_number() OVER (ORDER BY diff, r) AS rn FROM diffs
    )
    SELECT CAST({_BOOT_REPS} AS BIGINT) AS n_reps,
           p.nc AS n_control, p.nt AS n_treatment,
           round(CASE WHEN p.nt = 0 OR p.nc = 0 THEN 0.0
                      ELSE CAST(p.wyt AS DOUBLE) / CAST(p.nt AS DOUBLE)
                           - CAST(p.wyc AS DOUBLE) / CAST(p.nc AS DOUBLE)
                 END, 6) AS diff_point,
           round((SELECT diff FROM ranked WHERE rn = {_BOOT_LO}), 6)
             AS boot_ci_lo,
           round((SELECT diff FROM ranked WHERE rn = {_BOOT_HI}), 6)
             AS boot_ci_hi,
           ((SELECT diff FROM ranked WHERE rn = {_BOOT_LO}) > 0.0
            OR (SELECT diff FROM ranked WHERE rn = {_BOOT_HI}) < 0.0)
             AS significant_95
    FROM point p
    """


@register(
    "ab_bootstrap_diff_ci",
    oracle=_bootstrap_oracle(),
    description=f"Poisson-bootstrap confidence interval for the "
    "treatment-control difference in per-user mean metric — the "
    "resampling CI web-scale experimentation platforms run instead of "
    "multinomial bootstrap: each of the "
    f"{_BOOT_REPS} replicates weights every user by a DETERMINISTIC "
    "Poisson(1) draw (u = md5-hash(rep#user)/2^60 inverted through "
    "CDF thresholds inlined as identical float literals in both "
    "engines), so all replicates ride ONE pass over the per-user frame "
    "and reduce to R x 2 weighted sums — the corpus is never copied. "
    "Replicate sums are exact decimals; each replicate diff is one "
    "fixed-text double expression; the ~95% interval takes the "
    f"{_BOOT_LO}th/{_BOOT_HI}th order statistics of the {_BOOT_REPS} "
    "sorted diffs (integer indices, no floating-point percentile). "
    "Scale: one map-side-combined per-user aggregate, one R-fold "
    "flat-map of USER-grain rows (collapsed map-side to R x 2 groups), "
    "and a 64-row replicate frame for the order stats.",
    tags=("experiment", "ab-test", "stats", "bootstrap"),
    bench=True,  # round-9 second-session flagship: R replicates, one pass
)
def ab_bootstrap_diff_ci(spark, sf_dir):
    from pyspark.sql import Window

    from datalakes_and_data_integration_spark.functions.hashing import (
        hash60_sql_spark,
    )

    ev = T(spark, sf_dir, "events")
    per_user = _ab_per_user_y(ev, _exp_start(ev)).persist()  # point estimate + replicate fan-out share it
    point = per_user.agg(
        F.sum(F.when(F.col("arm") == "control", 1).otherwise(0))
        .cast("long")
        .alias("nc"),
        F.sum(F.when(F.col("arm") == "treatment", 1).otherwise(0))
        .cast("long")
        .alias("nt"),
        F.coalesce(
            F.sum(F.when(F.col("arm") == "control", F.col("y"))), F.lit(0)
        ).alias("wyc"),
        F.coalesce(
            F.sum(F.when(F.col("arm") == "treatment", F.col("y"))), F.lit(0)
        ).alias("wyt"),
    )
    h = hash60_sql_spark(
        "concat(CAST(r AS STRING), '#', CAST(user_id AS STRING))",
        seed=_BOOT_SEED,
    )
    w = _boot_weight_sql(f"(CAST({h} AS DOUBLE) / 1152921504606846976.0)")
    weighted = per_user.select(
        "user_id",
        "arm",
        "y",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_REPS - 1))).alias("r"),
    ).selectExpr("r", "arm", "y", f"{w} AS wgt")
    rep_arm = weighted.groupBy("r", "arm").agg(
        F.sum("wgt").cast("long").alias("n_eff"),
        F.coalesce(
            F.sum(F.expr("CAST(wgt AS DECIMAL(10,0)) * y")), F.lit(0)
        ).alias("wy"),
    )
    rep_grain = rep_arm.groupBy("r").agg(
        F.coalesce(
            F.sum(F.when(F.col("arm") == "control", F.col("n_eff"))),
            F.lit(0),
        )
        .cast("long")
        .alias("nc"),
        F.coalesce(
            F.sum(F.when(F.col("arm") == "treatment", F.col("n_eff"))),
            F.lit(0),
        )
        .cast("long")
        .alias("nt"),
        F.coalesce(
            F.sum(F.when(F.col("arm") == "control", F.col("wy"))), F.lit(0)
        ).alias("wyc"),
        F.coalesce(
            F.sum(F.when(F.col("arm") == "treatment", F.col("wy"))),
            F.lit(0),
        ).alias("wyt"),
    )
    diffs = rep_grain.selectExpr("r", f"{_BOOT_DIFF} AS diff")
    ranked = diffs.select(
        "diff",
        F.row_number()
        .over(Window.orderBy("diff", "r"))  # scale-ok: 64-row replicate frame
        .alias("rn"),
    )
    # r09 optimization: one conditional aggregate instead of two filtered
    # subtrees — the lo/hi order statistics used to broadcast separately,
    # each dragging the ranked lineage into its own exchange/job (9 jobs
    # / 24 stages measured for the query). max() of the single matching
    # row per bound is the row itself, so values are identical.
    band = ranked.where(
        F.col("rn").isin(_BOOT_LO, _BOOT_HI)
    ).agg(
        F.max(F.when(F.col("rn") == _BOOT_LO, F.col("diff"))).alias("lo_d"),
        F.max(F.when(F.col("rn") == _BOOT_HI, F.col("diff"))).alias("hi_d"),
    )
    return (
        point.crossJoin(F.broadcast(band))  # scale-ok: 1-row stats frames
        .selectExpr(
            f"CAST({_BOOT_REPS} AS BIGINT) AS n_reps",
            "nc AS n_control",
            "nt AS n_treatment",
            """round(CASE WHEN nt = 0 OR nc = 0 THEN 0.0
                      ELSE CAST(wyt AS DOUBLE) / CAST(nt AS DOUBLE)
                           - CAST(wyc AS DOUBLE) / CAST(nc AS DOUBLE)
                 END, 6) AS diff_point""",
            "round(lo_d, 6) AS boot_ci_lo",
            "round(hi_d, 6) AS boot_ci_hi",
            "(lo_d > 0.0 OR hi_d < 0.0) AS significant_95",
        )
    )


# ---------------------------------------------------------------------------
# Sequential testing (mSPRT): the always-valid p-value that lets an
# experiment be peeked at every week without inflating false positives
# (Johari et al., "Peeking at A/B tests", KDD'17 — the method behind
# Optimizely's stats engine). The conversion metric (the SRM audit's
# high-value purchase) accumulates weekly; each week's mixture
# likelihood ratio Lambda_w uses the normal mixture with tau^2 = 0.01,
# and the always-valid p is the running minimum of min(1, 1/Lambda).
# Everything up to the epilogue is exact BIGINT cumulative counts on the
# bounded week grid.
# ---------------------------------------------------------------------------

_MSPRT_TAU2 = "0.01"  # mixture variance tau^2 (tau = 0.1) — shared literal

# One shared epilogue text: phat/V/diff from exact integer counts, the
# mixture LR, and the per-week p-step. V = 0 (degenerate: no converters
# or all converters) and empty-arm weeks read p = 1.
_MSPRT_P_STEP = f"""CASE
      WHEN nc = 0 OR nt = 0 THEN 1.0
      WHEN (cc + ct) = 0 OR (cc + ct) = (nc + nt) THEN 1.0
      ELSE least(1.0, 1.0 / (
        sqrt((CAST(cc + ct AS DOUBLE) / CAST(nc + nt AS DOUBLE)
              * (1.0 - CAST(cc + ct AS DOUBLE) / CAST(nc + nt AS DOUBLE))
              * (1.0 / CAST(nc AS DOUBLE) + 1.0 / CAST(nt AS DOUBLE)))
             / (CAST(cc + ct AS DOUBLE) / CAST(nc + nt AS DOUBLE)
                * (1.0 - CAST(cc + ct AS DOUBLE) / CAST(nc + nt AS DOUBLE))
                * (1.0 / CAST(nc AS DOUBLE) + 1.0 / CAST(nt AS DOUBLE))
                + {_MSPRT_TAU2}))
        * exp((CAST(ct AS DOUBLE) / CAST(nt AS DOUBLE)
               - CAST(cc AS DOUBLE) / CAST(nc AS DOUBLE))
              * (CAST(ct AS DOUBLE) / CAST(nt AS DOUBLE)
                 - CAST(cc AS DOUBLE) / CAST(nc AS DOUBLE))
              * {_MSPRT_TAU2}
              / (2.0 * (CAST(cc + ct AS DOUBLE) / CAST(nc + nt AS DOUBLE)
                        * (1.0 - CAST(cc + ct AS DOUBLE)
                                 / CAST(nc + nt AS DOUBLE))
                        * (1.0 / CAST(nc AS DOUBLE)
                           + 1.0 / CAST(nt AS DOUBLE)))
                     * (CAST(cc + ct AS DOUBLE) / CAST(nc + nt AS DOUBLE)
                        * (1.0 - CAST(cc + ct AS DOUBLE)
                                 / CAST(nc + nt AS DOUBLE))
                        * (1.0 / CAST(nc AS DOUBLE)
                           + 1.0 / CAST(nt AS DOUBLE))
                        + {_MSPRT_TAU2})))))
    END"""

_MSPRT_DIFF = """CASE WHEN nc = 0 OR nt = 0 THEN 0.0
         ELSE CAST(ct AS DOUBLE) / CAST(nt AS DOUBLE)
              - CAST(cc AS DOUBLE) / CAST(nc AS DOUBLE) END"""


def _msprt_oracle() -> str:
    return f"""
    WITH bounds AS (
      SELECT min(ts) + INTERVAL {_AB_PRE_DAYS} DAY AS exp_start FROM events
    ),
    exp_events AS MATERIALIZED (
      SELECT user_id, {_arm_duck()} AS arm, event_type, value,
             CAST(datediff('day', CAST((SELECT exp_start FROM bounds)
                                       AS DATE),
                           CAST(ts AS DATE)) // 7 AS BIGINT) AS week
      FROM events
      WHERE ts >= (SELECT exp_start FROM bounds)
    ),
    per_user AS (
      SELECT user_id, arm,
             CAST(min(week) AS BIGINT) AS enroll_week,
             min(CASE WHEN event_type = 'purchase'
                       AND value >= {_AB_CONV_VALUE}
                      THEN week END) AS conv_week
      FROM exp_events GROUP BY 1, 2
    ),
    mx AS (SELECT max(week) AS mw FROM exp_events),
    grid AS (
      SELECT CAST(unnest(generate_series(0,
               (SELECT coalesce(mw, -1) FROM mx))) AS BIGINT) AS week
    ),
    arms AS (SELECT 'control' AS arm UNION ALL SELECT 'treatment'),
    enr AS (
      SELECT arm, enroll_week AS week, CAST(count(*) AS BIGINT) AS n
      FROM per_user GROUP BY 1, 2
    ),
    cnv AS (
      SELECT arm, conv_week AS week, CAST(count(*) AS BIGINT) AS n
      FROM per_user WHERE conv_week IS NOT NULL GROUP BY 1, 2
    ),
    cum AS (
      SELECT g.week, a.arm,
             CAST(coalesce(sum(e.n) OVER (PARTITION BY a.arm
               ORDER BY g.week), 0) AS BIGINT) AS n_cum,
             CAST(coalesce(sum(c.n) OVER (PARTITION BY a.arm
               ORDER BY g.week), 0) AS BIGINT) AS c_cum
      FROM grid g CROSS JOIN arms a
      LEFT JOIN enr e ON e.arm = a.arm AND e.week = g.week
      LEFT JOIN cnv c ON c.arm = a.arm AND c.week = g.week
    ),
    wk AS (
      SELECT week,
             CAST(coalesce(sum(CASE WHEN arm = 'control' THEN n_cum END), 0)
                  AS BIGINT) AS nc,
             CAST(coalesce(sum(CASE WHEN arm = 'treatment' THEN n_cum END),
                           0) AS BIGINT) AS nt,
             CAST(coalesce(sum(CASE WHEN arm = 'control' THEN c_cum END), 0)
                  AS BIGINT) AS cc,
             CAST(coalesce(sum(CASE WHEN arm = 'treatment' THEN c_cum END),
                           0) AS BIGINT) AS ct
      FROM cum GROUP BY week
    ),
    steps AS (
      SELECT week, nc, nt, cc, ct,
             {_MSPRT_DIFF} AS diff_rate,
             {_MSPRT_P_STEP} AS p_step
      FROM wk
    )
    SELECT week, nc AS n_control, nt AS n_treatment,
           cc AS conv_control, ct AS conv_treatment,
           round(diff_rate, 6) AS diff_rate,
           round(p_step, 6) AS p_week,
           round(min(p_step) OVER (ORDER BY week), 6) AS always_valid_p,
           (min(p_step) OVER (ORDER BY week)) < 0.05 AS reject_95
    FROM steps
    """


@register(
    "ab_sequential_msprt",
    oracle=_msprt_oracle(),
    description="Always-valid sequential test (mSPRT, Johari et al. "
    "KDD'17 — the anti-peeking statistics behind modern experimentation "
    "platforms) on the conversion metric: per-user enrollment week "
    "(first experiment-period event) and first high-value-purchase week "
    "reduce to exact BIGINT cumulative counts on the bounded week grid; "
    "each week's normal-mixture likelihood ratio (tau^2 = 0.01) gives a "
    "p-step min(1, 1/Lambda), and the published always-valid p is the "
    "running minimum — valid at EVERY week simultaneously, so the "
    "experiment can stop the first week it crosses 0.05. The epilogue "
    "is one shared DOUBLE expression over exact integers (the "
    "estimator-arithmetic determinism rule); degenerate weeks (empty "
    "arm, zero or total conversion => V = 0) read p = 1. Scale: one "
    "filtered scan -> per-user aggregate (map-side combined), then all "
    "state lives on the week x arm grid — cumulative windows bounded "
    "by the calendar, never by users.",
    tags=("experiment", "ab-test", "stats", "sequential"),
)
def ab_sequential_msprt(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    return _msprt_readout(spark, _msprt_per_user(ev, _exp_start(ev)))


def _msprt_per_user(ev, exp_start, extra: tuple = ()):
    """Per-(user, arm) week triple: first experiment-period event week
    (enrollment), first qualifying-purchase week (conversion, nullable),
    and last event week (so the maintained twin can reconstruct the
    batch query's calendar grid). All three merge idempotently —
    min/min/max — which is what makes the streaming twin's replay a
    no-op by algebra. ``extra`` names pass-through grouping columns
    (the batched maintenance path labels rows with a batch id and
    builds every weekly increment in one scan); default unchanged."""
    return (
        ev.crossJoin(exp_start)  # scale-ok: 1-row broadcast scalar
        .where(F.col("ts") >= F.col("exp_start"))
        .select(
            *extra,
            "user_id",
            _arm_spark().alias("arm"),
            "event_type",
            "value",
            F.expr(
                "CAST(floor(datediff(CAST(ts AS DATE),"
                " CAST(exp_start AS DATE)) / 7) AS BIGINT)"
            ).alias("week"),
        )
        .groupBy(*extra, "user_id", "arm")
        .agg(
            F.min("week").cast("long").alias("enroll_week"),
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("value") >= _AB_CONV_VALUE),
                    F.col("week"),
                )
            ).alias("conv_week"),
            F.max("week").cast("long").alias("last_week"),
        )
    )


def _msprt_readout(spark, per_user):
    """Week grid -> cumulative counts -> mixture-LR epilogue; shared
    verbatim by the batch query and the maintained-state twin (the
    _cuped_readout pattern). max(last_week) over the per-user frame
    equals max event week, so the grid is identical to the one the
    batch query's raw scan would derive."""
    from pyspark.sql import Window

    per_user = per_user.persist()  # grid scalar + two grouped passes
    grid = (
        per_user.agg(F.max("last_week").alias("mw"))
        .select(F.explode(F.expr("sequence(0L, mw)")).alias("week"))
    )  # scale-ok: calendar-bounded week grid from a 1-row scalar
    arms = spark.createDataFrame(
        [("control",), ("treatment",)], "arm string"
    )
    enr = per_user.groupBy("arm", F.col("enroll_week").alias("week")).agg(
        F.count("*").cast("long").alias("n")
    )
    cnv = (
        per_user.where(F.col("conv_week").isNotNull())
        .groupBy("arm", F.col("conv_week").alias("week"))
        .agg(F.count("*").cast("long").alias("n"))
    )
    ga = grid.crossJoin(F.broadcast(arms))  # scale-ok: weeks x 2 arms grid
    wcum = Window.partitionBy("arm").orderBy("week").rowsBetween(
        Window.unboundedPreceding, 0
    )  # scale-ok: calendar-bounded week grid
    cum = (
        ga.join(
            F.broadcast(enr.withColumnRenamed("n", "en")), ["arm", "week"], "left"
        )  # scale-ok: week x arm grid joins
        .join(
            F.broadcast(cnv.withColumnRenamed("n", "cn")),
            ["arm", "week"],
            "left",
        )  # scale-ok: week x arm grid joins
        .select(
            "week",
            "arm",
            F.coalesce(F.sum("en").over(wcum), F.lit(0))
            .cast("long")
            .alias("n_cum"),
            F.coalesce(F.sum("cn").over(wcum), F.lit(0))
            .cast("long")
            .alias("c_cum"),
        )
    )
    wk = cum.groupBy("week").agg(
        F.coalesce(
            F.sum(F.when(F.col("arm") == "control", F.col("n_cum"))), F.lit(0)
        )
        .cast("long")
        .alias("nc"),
        F.coalesce(
            F.sum(F.when(F.col("arm") == "treatment", F.col("n_cum"))),
            F.lit(0),
        )
        .cast("long")
        .alias("nt"),
        F.coalesce(
            F.sum(F.when(F.col("arm") == "control", F.col("c_cum"))), F.lit(0)
        )
        .cast("long")
        .alias("cc"),
        F.coalesce(
            F.sum(F.when(F.col("arm") == "treatment", F.col("c_cum"))),
            F.lit(0),
        )
        .cast("long")
        .alias("ct"),
    )
    steps = wk.selectExpr(
        "week",
        "nc",
        "nt",
        "cc",
        "ct",
        f"{_MSPRT_DIFF} AS diff_rate",
        f"{_MSPRT_P_STEP} AS p_step",
    )
    wmin = Window.orderBy("week").rowsBetween(  # scale-ok: calendar-bounded week grid
        Window.unboundedPreceding, 0
    )
    return steps.select(
        "week",
        F.col("nc").alias("n_control"),
        F.col("nt").alias("n_treatment"),
        F.col("cc").alias("conv_control"),
        F.col("ct").alias("conv_treatment"),
        F.round("diff_rate", 6).alias("diff_rate"),
        F.round("p_step", 6).alias("p_week"),
        F.round(F.min("p_step").over(wmin), 6).alias("always_valid_p"),
        (F.min("p_step").over(wmin) < 0.05).alias("reject_95"),
    )


# ---------------------------------------------------------------------------
# Power / MDE: the experiment-design readout — given the metric's
# observed variance and enrollment, what's the smallest lift this
# experiment could detect at 80% power / 95% confidence, and how many
# users per arm would a 5% relative lift need? Pure moment arithmetic
# on the same per-user decimal frame as CUPED; publishing it next to
# the significance readouts is what stops teams from shipping
# underpowered tests.
# ---------------------------------------------------------------------------

_Z_ALPHA = "1.959964"  # z_{0.975} — shared literal with the z-test
_Z_POWER = "0.841621"  # z_{0.80}: 80% power
_MDE_TARGET_LIFT = "0.05"  # sizing target: 5% relative lift

_POWER_EPILOGUE = f"""
    CAST(ROUND(CAST(CASE WHEN nc = 0 THEN 0.0
                         ELSE sc / CAST(nc AS DOUBLE) END
                    AS DECIMAL(27,12)), 6) AS DOUBLE) AS mean_control,
    CAST(ROUND(CAST(CASE WHEN nc < 2 OR nt < 2 THEN 0.0
         ELSE sqrt(((qc - sc * sc / CAST(nc AS DOUBLE))
                    + (qt - st * st / CAST(nt AS DOUBLE)))
                   / CAST(nc + nt - 2 AS DOUBLE)) END
                    AS DECIMAL(27,12)), 6) AS DOUBLE) AS sd_pooled,
    CAST(ROUND(CAST(CASE WHEN nc < 2 OR nt < 2 THEN 0.0
         ELSE ({_Z_ALPHA} + {_Z_POWER})
              * sqrt((qc - sc * sc / CAST(nc AS DOUBLE))
                     / CAST(nc - 1 AS DOUBLE) / CAST(nc AS DOUBLE)
                     + (qt - st * st / CAST(nt AS DOUBLE))
                       / CAST(nt - 1 AS DOUBLE) / CAST(nt AS DOUBLE)) END
                    AS DECIMAL(27,12)), 6) AS DOUBLE) AS mde_abs,
    CAST(ROUND(CAST(CASE WHEN nc < 2 OR nt < 2 OR sc = 0.0 THEN 0.0
         ELSE ({_Z_ALPHA} + {_Z_POWER})
              * sqrt((qc - sc * sc / CAST(nc AS DOUBLE))
                     / CAST(nc - 1 AS DOUBLE) / CAST(nc AS DOUBLE)
                     + (qt - st * st / CAST(nt AS DOUBLE))
                       / CAST(nt - 1 AS DOUBLE) / CAST(nt AS DOUBLE))
              / (sc / CAST(nc AS DOUBLE)) END
                    AS DECIMAL(27,12)), 6) AS DOUBLE) AS mde_rel,
    CAST(CASE WHEN nc < 2 OR nt < 2 OR sc <= 0.0 THEN 0
         ELSE ceil(2.0 * (({_Z_ALPHA} + {_Z_POWER})
                          * ({_Z_ALPHA} + {_Z_POWER}))
                   * (((qc - sc * sc / CAST(nc AS DOUBLE))
                       + (qt - st * st / CAST(nt AS DOUBLE)))
                      / CAST(nc + nt - 2 AS DOUBLE))
                   / (({_MDE_TARGET_LIFT} * (sc / CAST(nc AS DOUBLE)))
                      * ({_MDE_TARGET_LIFT} * (sc / CAST(nc AS DOUBLE)))))
         END AS BIGINT) AS n_per_arm_for_5pct_lift
"""


def _power_oracle() -> str:
    return f"""
    WITH bounds AS (
      SELECT min(ts) + INTERVAL {_AB_PRE_DAYS} DAY AS exp_start FROM events
    ),
    per_user AS MATERIALIZED (
      SELECT user_id, {_arm_duck()} AS arm,
             CAST(coalesce(sum(CASE WHEN ts >= (SELECT exp_start FROM bounds)
                                    THEN CAST(value AS DECIMAL(18,6)) END),
                           0) AS DECIMAL(18,6)) AS y
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT
        CAST(sum(CASE WHEN arm = 'control' THEN 1 ELSE 0 END) AS BIGINT)
          AS nc,
        CAST(sum(CASE WHEN arm = 'treatment' THEN 1 ELSE 0 END) AS BIGINT)
          AS nt,
        CAST(coalesce(sum(CASE WHEN arm = 'control' THEN y END), 0)
             AS DOUBLE) AS sc,
        CAST(coalesce(sum(CASE WHEN arm = 'treatment' THEN y END), 0)
             AS DOUBLE) AS st,
        CAST(coalesce(sum(CASE WHEN arm = 'control'
                          THEN CAST(CAST(y AS DECIMAL(19,6)) * y
                                    AS DECIMAL(38,12)) END), 0)
             AS DOUBLE) AS qc,
        CAST(coalesce(sum(CASE WHEN arm = 'treatment'
                          THEN CAST(CAST(y AS DECIMAL(19,6)) * y
                                    AS DECIMAL(38,12)) END), 0)
             AS DOUBLE) AS qt
      FROM per_user
    )
    SELECT nc AS n_control, nt AS n_treatment, {_POWER_EPILOGUE}
    FROM m
    """


@register(
    "ab_power_mde_report",
    oracle=_power_oracle(),
    description="Experiment power / minimum-detectable-effect report — "
    "the design-side readout that belongs next to the significance "
    "panel: from the observed per-user metric moments (the SAME exact "
    "decimal frame CUPED reads), report each arm's enrollment, the "
    "pooled standard deviation, the smallest absolute and relative "
    "lift detectable at 80% power / 95% confidence with the CURRENT "
    "enrollment (MDE = (z_0.975 + z_0.80) * sqrt(s2_c/n_c + "
    "s2_t/n_t)), and the classic two-sample sizing formula's required "
    "users per arm for a 5% relative lift. Moments are exact DECIMAL "
    "sums ((18,6) operands so the squares stay inside precision 38 in "
    "BOTH engines — the round-9 CUPED rule); the epilogue is one "
    "shared DOUBLE text with degenerate enrollment guarded to 0. "
    "Scale: one map-side-combined per-user aggregate and a 6-number "
    "reduce — the report is O(1) state at any corpus size.",
    tags=("experiment", "ab-test", "stats", "design"),
)
def ab_power_mde_report(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    per_user = _ab_per_user(ev, _exp_start(ev))
    m = per_user.agg(
        F.sum(F.when(F.col("arm") == "control", 1).otherwise(0))
        .cast("long")
        .alias("nc"),
        F.sum(F.when(F.col("arm") == "treatment", 1).otherwise(0))
        .cast("long")
        .alias("nt"),
        F.coalesce(
            F.sum(F.when(F.col("arm") == "control", F.col("y"))), F.lit(0)
        )
        .cast("double")
        .alias("sc"),
        F.coalesce(
            F.sum(F.when(F.col("arm") == "treatment", F.col("y"))), F.lit(0)
        )
        .cast("double")
        .alias("st"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("arm") == "control",
                    F.expr("CAST(CAST(y AS DECIMAL(19,6)) * y"
                           " AS DECIMAL(38,12))"),
                )
            ),
            F.lit(0),
        )
        .cast("double")
        .alias("qc"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("arm") == "treatment",
                    F.expr("CAST(CAST(y AS DECIMAL(19,6)) * y"
                           " AS DECIMAL(38,12))"),
                )
            ),
            F.lit(0),
        )
        .cast("double")
        .alias("qt"),
    )
    return m.selectExpr(
        "nc AS n_control",
        "nt AS n_treatment",
        *[e.strip() for e in _POWER_EPILOGUE.strip().split(",\n")],
    )


# ---------------------------------------------------------------------------
# Segment heterogeneity (round-9 second session): the drill-down every
# platform offers — per-nation treatment effects next to Cochran's Q,
# the formal test of whether the effect VARIES across segments (the
# guard against shipping a feature that helps one market and hurts
# another, and against cherry-picking the one green segment). Per-
# segment counts are exact BIGINTs; the weighted-moment reductions for
# Q route each double term through DECIMAL(38,12) so the cross-segment
# sums are order-independent; Q, df and Higgins' I^2 are one shared
# DOUBLE epilogue.
# ---------------------------------------------------------------------------

# Shared segment-cell expressions, parameterized by a column-qualifier
# prefix (the oracle's outer SELECT reads the cells CTE through alias
# "c."; Spark and the weighted-moment CTE read unqualified columns).
# Prefix templating replaces the blind .replace("nc", "c.nc") chains a
# code-review pass flagged — a future token merely CONTAINING nc/ct
# can no longer be silently corrupted.


def _seg_included(p: str = "") -> str:
    return (
        f"({p}nc > 0 AND {p}nt > 0 AND ({p}cc + {p}ct) > 0"
        f" AND ({p}cc + {p}ct) < ({p}nc + {p}nt))"
    )


def _seg_d(p: str = "") -> str:
    return f"""(CAST({p}ct AS DOUBLE) / CAST({p}nt AS DOUBLE)
             - CAST({p}cc AS DOUBLE) / CAST({p}nc AS DOUBLE))"""


def _seg_v(p: str = "") -> str:
    return f"""((CAST({p}cc + {p}ct AS DOUBLE) / CAST({p}nc + {p}nt AS DOUBLE))
             * (1.0 - CAST({p}cc + {p}ct AS DOUBLE) / CAST({p}nc + {p}nt AS DOUBLE))
             * (1.0 / CAST({p}nc AS DOUBLE) + 1.0 / CAST({p}nt AS DOUBLE)))"""


_SEG_INCLUDED = _seg_included()
_SEG_D = _seg_d()
_SEG_V = _seg_v()


def _seg_het_oracle() -> str:
    return f"""
    WITH bounds AS (
      SELECT min(ts) + INTERVAL {_AB_PRE_DAYS} DAY AS exp_start FROM events
    ),
    per_user AS MATERIALIZED (
      SELECT user_id, {_arm_duck()} AS arm,
             CAST(coalesce(sum(CASE WHEN ts >= (SELECT exp_start FROM bounds)
                                     AND event_type = 'purchase'
                                     AND value >= {_AB_CONV_VALUE}
                                    THEN 1 END), 0) > 0 AS BOOLEAN)
               AS converted
      FROM events GROUP BY 1, 2
    ),
    seg AS (
      SELECT u.user_id, u.arm, u.converted,
             coalesce(n.n_name, 'unknown') AS segment
      FROM per_user u
      LEFT JOIN customer c ON c.c_custkey = u.user_id
      LEFT JOIN nation n ON n.n_nationkey = c.c_nationkey
    ),
    cells AS (
      SELECT segment,
             CAST(sum(CASE WHEN arm = 'control' THEN 1 ELSE 0 END)
                  AS BIGINT) AS nc,
             CAST(sum(CASE WHEN arm = 'treatment' THEN 1 ELSE 0 END)
                  AS BIGINT) AS nt,
             CAST(coalesce(sum(CASE WHEN arm = 'control' AND converted
                               THEN 1 END), 0) AS BIGINT) AS cc,
             CAST(coalesce(sum(CASE WHEN arm = 'treatment' AND converted
                               THEN 1 END), 0) AS BIGINT) AS ct
      FROM seg GROUP BY segment
    ),
    wm AS (
      SELECT CAST(count(*) AS BIGINT) AS k_inc,
             CAST(coalesce(sum(CAST(1.0 / {_SEG_V}
                  AS DECIMAL(38,12))), 0) AS DOUBLE) AS s0,
             CAST(coalesce(sum(CAST({_SEG_D} / {_SEG_V}
                  AS DECIMAL(38,12))), 0) AS DOUBLE) AS s1,
             CAST(coalesce(sum(CAST({_SEG_D} * {_SEG_D} / {_SEG_V}
                  AS DECIMAL(38,12))), 0) AS DOUBLE) AS s2
      FROM cells WHERE {_SEG_INCLUDED}
    ),
    q AS (
      SELECT k_inc,
             CASE WHEN k_inc < 2 OR s0 = 0.0 THEN 0.0
                  ELSE s2 - s1 * s1 / s0 END AS q_stat
      FROM wm
    )
    SELECT c.segment, c.nc AS n_control, c.nt AS n_treatment,
           c.cc AS conv_control, c.ct AS conv_treatment,
           round(CASE WHEN c.nc = 0 OR c.nt = 0 THEN 0.0
                      ELSE {_seg_d("c.")} END,
                 6) AS diff_rate,
           round(CASE WHEN NOT {_seg_included("c.")} THEN 0.0
                      ELSE {_seg_d("c.")}
                           / sqrt({_seg_v("c.")}) END, 6)
             AS z_segment,
           {_seg_included("c.")} AS included,
           round(q.q_stat, 6) AS q_stat,
           CAST(greatest(q.k_inc - 1, 0) AS BIGINT) AS df,
           round(CASE WHEN q.q_stat <= 0.0 OR q.k_inc < 2 THEN 0.0
                      ELSE greatest(0.0, (q.q_stat
                           - CAST(q.k_inc - 1 AS DOUBLE)) / q.q_stat) END, 6)
             AS i_squared
    FROM cells c CROSS JOIN q
    """


@register(
    "ab_segment_heterogeneity",
    oracle=_seg_het_oracle(),
    description="Per-segment treatment effects with Cochran's Q — the "
    "drill-down readout that guards both failure modes of segmented "
    "experiment analysis: a global null hiding opposite-sign segment "
    "effects, and cherry-picking the one significant segment. Users "
    "map to their nation (customer dim broadcast onto the per-user "
    "frame, never onto raw events); each segment reports exact "
    "conversion counts, the rate difference, and the pooled-variance "
    "z; segments with a degenerate cell (empty arm, zero/total "
    "conversion) are excluded from the heterogeneity reduction and "
    "flagged. Cochran's Q = sum w_s (d_s - d_bar)^2 with inverse-"
    "variance weights is computed from three weighted moments whose "
    "double terms route through DECIMAL(38,12) — cross-segment "
    "addition stays order-independent — and Higgins' I^2 restates Q "
    "as the fraction of effect variance that is real heterogeneity. "
    "Scale: one per-user aggregate, one broadcast dim hop, then all "
    "state is the ~25-row segment grid.",
    tags=("experiment", "ab-test", "stats", "segmentation"),
)
def ab_segment_heterogeneity(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    exp_start = _exp_start(ev)
    per_user = (
        ev.crossJoin(exp_start)  # scale-ok: 1-row broadcast scalar
        .groupBy(F.col("user_id"), _arm_spark().alias("arm"))
        .agg(
            (
                F.coalesce(
                    F.sum(
                        F.when(
                            (F.col("ts") >= F.col("exp_start"))
                            & (F.col("event_type") == "purchase")
                            & (F.col("value") >= _AB_CONV_VALUE),
                            1,
                        )
                    ),
                    F.lit(0),
                )
                > 0
            ).alias("converted")
        )
    )
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = T(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    seg = (
        per_user.join(
            F.broadcast(c), per_user.user_id == c.c_custkey, "left"
        )
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left")
        .select(
            "arm",
            "converted",
            F.coalesce(F.col("n_name"), F.lit("unknown")).alias("segment"),
        )
    )
    cells = seg.groupBy("segment").agg(
        F.sum(F.when(F.col("arm") == "control", 1).otherwise(0))
        .cast("long")
        .alias("nc"),
        F.sum(F.when(F.col("arm") == "treatment", 1).otherwise(0))
        .cast("long")
        .alias("nt"),
        F.coalesce(
            F.sum(
                F.when((F.col("arm") == "control") & F.col("converted"), 1)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("cc"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("arm") == "treatment") & F.col("converted"), 1
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("ct"),
    ).persist()  # ~25-row segment grid: per-row report + Q reduction
    wm = cells.where(F.expr(_SEG_INCLUDED)).agg(
        F.count("*").cast("long").alias("k_inc"),
        F.coalesce(
            F.sum(F.expr(f"CAST(1.0 / {_SEG_V} AS DECIMAL(38,12))")),
            F.lit(0),
        )
        .cast("double")
        .alias("s0"),
        F.coalesce(
            F.sum(F.expr(f"CAST({_SEG_D} / {_SEG_V} AS DECIMAL(38,12))")),
            F.lit(0),
        )
        .cast("double")
        .alias("s1"),
        F.coalesce(
            F.sum(
                F.expr(
                    f"CAST({_SEG_D} * {_SEG_D} / {_SEG_V}"
                    " AS DECIMAL(38,12))"
                )
            ),
            F.lit(0),
        )
        .cast("double")
        .alias("s2"),
    )
    q = wm.selectExpr(
        "k_inc",
        "CASE WHEN k_inc < 2 OR s0 = 0.0 THEN 0.0"
        " ELSE s2 - s1 * s1 / s0 END AS q_stat",
    )
    return (
        cells.crossJoin(F.broadcast(q))  # scale-ok: segment grid x 1-row Q
        .selectExpr(
            "segment",
            "nc AS n_control",
            "nt AS n_treatment",
            "cc AS conv_control",
            "ct AS conv_treatment",
            f"round(CASE WHEN nc = 0 OR nt = 0 THEN 0.0"
            f" ELSE {_SEG_D} END, 6) AS diff_rate",
            f"round(CASE WHEN NOT {_SEG_INCLUDED} THEN 0.0"
            f" ELSE {_SEG_D} / sqrt({_SEG_V}) END, 6) AS z_segment",
            f"{_SEG_INCLUDED} AS included",
            "round(q_stat, 6) AS q_stat",
            "CAST(greatest(k_inc - 1, 0) AS BIGINT) AS df",
            "round(CASE WHEN q_stat <= 0.0 OR k_inc < 2 THEN 0.0"
            " ELSE greatest(0.0, (q_stat - CAST(k_inc - 1 AS DOUBLE))"
            " / q_stat) END, 6) AS i_squared",
        )
    )


# ---------------------------------------------------------------------------
# Ratio-metric readout via the delta method (Deng, Knoblich & Lu,
# "Applying the Delta Method in Metric Analytics", KDD'18): metrics
# like average order value are RATIOS of sums (sum purchase value /
# count purchases) whose unit of analysis (user) differs from the
# denominator unit (purchase) — treating them as per-user means, or
# averaging per-user ratios, both give wrong variance and a wrong
# test. The delta method linearizes the ratio around the arm means;
# every input is an exact decimal per-user moment, and the query also
# publishes the naive mean-of-ratios estimate so the bias being
# avoided is visible in the output.
# ---------------------------------------------------------------------------

_RATIO_EPILOGUE = f"""
    CAST(ROUND(CAST(CASE WHEN sden = 0.0 THEN 0.0 ELSE snum / sden END
                    AS DECIMAL(27,12)), 6) AS DOUBLE) AS ratio,
    CAST(ROUND(CAST(CASE WHEN n < 2 OR sden = 0.0 THEN 0.0
         ELSE sqrt(greatest(
              ((qnn / n - (snum / n) * (snum / n))
               - 2.0 * (snum / sden)
                 * (qnd / n - (snum / n) * (sden / n))
               + (snum / sden) * (snum / sden)
                 * (qdd / n - (sden / n) * (sden / n)))
              / ((sden / n) * (sden / n)) / n, 0.0)) END
                    AS DECIMAL(27,12)), 6) AS DOUBLE) AS ratio_se,
    CAST(ROUND(CAST(CASE WHEN n_ratio = 0 THEN 0.0
                         ELSE srat / CAST(n_ratio AS DOUBLE) END
                    AS DECIMAL(27,12)), 6) AS DOUBLE) AS naive_mean_ratio
"""

_RATIO_Z = """CASE WHEN sec <= 0.0 OR set_ <= 0.0 THEN 0.0
         ELSE (rt - rc) / sqrt(sec * sec + set_ * set_) END"""


def _ratio_delta_oracle() -> str:
    return f"""
    WITH bounds AS (
      SELECT min(ts) + INTERVAL {_AB_PRE_DAYS} DAY AS exp_start FROM events
    ),
    per_user AS MATERIALIZED (
      SELECT user_id, {_arm_duck()} AS arm,
             CAST(coalesce(sum(CASE WHEN ts >= (SELECT exp_start FROM bounds)
                                     AND event_type = 'purchase'
                                    THEN CAST(value AS DECIMAL(18,6)) END),
                           0) AS DECIMAL(18,6)) AS num,
             CAST(coalesce(sum(CASE WHEN ts >= (SELECT exp_start FROM bounds)
                                     AND event_type = 'purchase'
                                    THEN 1 END), 0) AS DECIMAL(18,6)) AS den
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT arm,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(num) AS DOUBLE) AS snum,
             CAST(sum(den) AS DOUBLE) AS sden,
             CAST(coalesce(sum(CAST(CAST(num AS DECIMAL(19,6)) * num
                                    AS DECIMAL(38,12))), 0) AS DOUBLE)
               AS qnn,
             CAST(coalesce(sum(CAST(CAST(num AS DECIMAL(19,6)) * den
                                    AS DECIMAL(38,12))), 0) AS DOUBLE)
               AS qnd,
             CAST(coalesce(sum(CAST(CAST(den AS DECIMAL(19,6)) * den
                                    AS DECIMAL(38,12))), 0) AS DOUBLE)
               AS qdd,
             CAST(count(*) FILTER (den > 0) AS BIGINT) AS n_ratio,
             CAST(coalesce(sum(CAST(CAST(num AS DOUBLE)
                                    / CAST(den AS DOUBLE)
                                    AS DECIMAL(38,12))) FILTER (den > 0),
                           0) AS DOUBLE) AS srat
      FROM per_user GROUP BY arm
    ),
    rep AS (
      SELECT arm, CAST(n AS BIGINT) AS n_users, {_RATIO_EPILOGUE}
      FROM m
    ),
    z AS (
      SELECT {_RATIO_Z} AS z_ratio
      FROM (
        SELECT
          max(CASE WHEN arm = 'control' THEN ratio END) AS rc,
          max(CASE WHEN arm = 'treatment' THEN ratio END) AS rt,
          max(CASE WHEN arm = 'control' THEN ratio_se END) AS sec,
          max(CASE WHEN arm = 'treatment' THEN ratio_se END) AS set_
        FROM rep
      )
    )
    SELECT r.arm, r.n_users, r.ratio, r.ratio_se, r.naive_mean_ratio,
           round(z.z_ratio, 6) AS z_ratio,
           abs(z.z_ratio) > {_Z_ALPHA} AS significant_95
    FROM rep r CROSS JOIN z
    """


@register(
    "ab_ratio_metric_delta_method",
    oracle=_ratio_delta_oracle(),
    description="Ratio-metric experiment readout via the delta method "
    "(Deng-Knoblich-Lu, KDD'18): average order value = sum(purchase "
    "value) / count(purchases) is a ratio of sums whose variance the "
    "naive per-user treatment misstates — the delta method linearizes "
    "around the arm means, Var(R) = (Var(num) - 2R Cov + R^2 "
    "Var(den)) / (n dbar^2), from six exact DECIMAL per-user moments "
    "per arm ((18,6) operands, (38,12) products — the round-9 "
    "precision rule). The query ALSO publishes the naive "
    "mean-of-per-user-ratios estimate (decimal-routed so the "
    "cross-user sum of double ratios is order-independent) so the "
    "bias the delta method avoids is visible in the same row; z and "
    "the 95% flag come from one shared DOUBLE epilogue. Scale: one "
    "map-side-combined per-user aggregate, 2 x 9 moment cells, O(1) "
    "reduce state.",
    tags=("experiment", "ab-test", "stats", "ratio-metric"),
)
def ab_ratio_metric_delta_method(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    per_user = (
        ev.crossJoin(_exp_start(ev))  # scale-ok: 1-row broadcast scalar
        .groupBy(F.col("user_id"), _arm_spark().alias("arm"))
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("ts") >= F.col("exp_start"))
                        & (F.col("event_type") == "purchase"),
                        F.col("value").cast("decimal(18,6)"),
                    )
                ),
                F.lit(0),
            )
            .cast("decimal(18,6)")
            .alias("num"),
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("ts") >= F.col("exp_start"))
                        & (F.col("event_type") == "purchase"),
                        F.lit(1),
                    )
                ),
                F.lit(0),
            )
            .cast("decimal(18,6)")
            .alias("den"),
        )
    )
    m = per_user.groupBy("arm").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("num").cast("double").alias("snum"),
        F.sum("den").cast("double").alias("sden"),
        F.coalesce(
            F.sum(
                F.expr(
                    "CAST(CAST(num AS DECIMAL(19,6)) * num"
                    " AS DECIMAL(38,12))"
                )
            ),
            F.lit(0),
        )
        .cast("double")
        .alias("qnn"),
        F.coalesce(
            F.sum(
                F.expr(
                    "CAST(CAST(num AS DECIMAL(19,6)) * den"
                    " AS DECIMAL(38,12))"
                )
            ),
            F.lit(0),
        )
        .cast("double")
        .alias("qnd"),
        F.coalesce(
            F.sum(
                F.expr(
                    "CAST(CAST(den AS DECIMAL(19,6)) * den"
                    " AS DECIMAL(38,12))"
                )
            ),
            F.lit(0),
        )
        .cast("double")
        .alias("qdd"),
        F.sum(F.when(F.col("den") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_ratio"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("den") > 0,
                    F.expr(
                        "CAST(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)"
                        " AS DECIMAL(38,12))"
                    ),
                )
            ),
            F.lit(0),
        )
        .cast("double")
        .alias("srat"),
    )
    rep = m.selectExpr(
        "arm",
        "CAST(n AS BIGINT) AS n_users",
        *[e.strip() for e in _RATIO_EPILOGUE.strip().split(",\n")],
    ).persist()  # 2-row arm frame: per-row report + cross-arm z
    zrow = rep.agg(
        F.max(F.when(F.col("arm") == "control", F.col("ratio"))).alias("rc"),
        F.max(F.when(F.col("arm") == "treatment", F.col("ratio"))).alias(
            "rt"
        ),
        F.max(
            F.when(F.col("arm") == "control", F.col("ratio_se"))
        ).alias("sec"),
        F.max(
            F.when(F.col("arm") == "treatment", F.col("ratio_se"))
        ).alias("set_"),
    ).selectExpr(f"{_RATIO_Z} AS z_ratio")
    return (
        rep.crossJoin(F.broadcast(zrow))  # scale-ok: 2 arms x 1-row z
        .selectExpr(
            "arm",
            "n_users",
            "ratio",
            "ratio_se",
            "naive_mean_ratio",
            "round(z_ratio, 6) AS z_ratio",
            f"abs(z_ratio) > {_Z_ALPHA} AS significant_95",
        )
    )


@register(
    "streaming_ab_msprt_maintenance",
    oracle=_msprt_oracle(),
    description="Incremental always-valid sequential test: the per-user "
    "week state — (first experiment-period event week, first "
    "qualifying-purchase week, last event week) — is maintained across "
    "span-derived weekly event batches by the IDEMPOTENT min/max merge "
    "(streaming/sketch_maintenance.merge_state with min/min/max — fifth "
    "member of the merge-algebra family, and the first where replay is "
    "a no-op BY ALGEBRA, not by ledger: min/min/max are idempotent, so "
    "the applied-batch ledger is a skip-work optimization; pinned by a "
    "test that force-remerges past the ledger and gets identical "
    "state). The readout then runs on the maintained state through the "
    "EXACT code path of ab_sequential_msprt (_msprt_readout — one "
    "definition, so the weekly platform job cannot fork from the batch "
    "query), and the shared oracle proves maintained == batch at every "
    "week row. Scale: state is O(users) narrow rows; the merge reads "
    "only the weekly increments (one batch-labeled scan, ONE state "
    "transition — fold-identical by min/max idempotence); the grid "
    "epilogue is calendar-sized.",
    tags=("experiment", "ab-test", "streaming", "incremental",
          "sequential"),
)
def streaming_ab_msprt_maintenance(spark, sf_dir):
    from datalakes_and_data_integration_spark.plans._util import state_tmp
    from datalakes_and_data_integration_spark.plans.streaming_extra import (
        _week_bid,
        _weekly_bounds,
    )
    from datalakes_and_data_integration_spark.streaming.sketch_maintenance import (
        BID,
        merge_state,
    )

    ev = T(spark, sf_dir, "events")
    exp_start = _exp_start(ev)
    state = state_tmp("ab_msprt_q")
    weeks = _weekly_bounds(ev)
    if not weeks:  # empty events -> zero batches -> empty report
        return _msprt_readout(
            spark,
            spark.createDataFrame(
                [],
                "user_id BIGINT, arm STRING, enroll_week BIGINT,"
                " conv_week BIGINT, last_week BIGINT",
            ),
        )
    # Every weekly per-(user, arm) week-triple increment in ONE scan
    # (batch-labeled grouping through the shared _msprt_per_user),
    # min/max-merged in ONE ledgered state transition — min/min/max are
    # associative AND idempotent, so the single transition equals the
    # per-week fold by algebra (guide §2.4 / VERDICT r9 #1).
    inc = _msprt_per_user(
        ev.withColumn(BID, _week_bid(weeks)), exp_start, extra=(BID,)
    )
    merged = merge_state(
        spark,
        state,
        inc,
        batch_ids=list(range(len(weeks) - 1)),
        key_cols=["user_id", "arm"],
        aggs={"enroll_week": "min", "conv_week": "min", "last_week": "max"},
    )
    return _msprt_readout(spark, merged)


# ---------------------------------------------------------------------------
# Benjamini-Hochberg FDR over the segment drill-down (round-9 second
# session): running one test per segment multiplies false positives;
# BH ranks the per-segment p-values and rejects the largest prefix
# with p_(k) <= (k/m) q — the standard FDR-controlling procedure every
# metrics platform applies to segment scans. Two-sided p comes from
# the Zelen-Severo / Abramowitz-Stegun 26.2.17 polynomial for the
# normal CDF (|error| < 7.5e-8, far above the round-6 grid): one
# shared expression text over bit-identical z's, so ranks and
# rejections agree cross-engine; the whole procedure runs on the
# bounded segment grid.
# ---------------------------------------------------------------------------

_BH_Q = "0.1"  # target false-discovery rate
# Zelen-Severo constants (shared literals both engines)
_ZS = {
    "p": "0.2316419",
    "b1": "0.319381530",
    "b2": "-0.356563782",
    "b3": "1.781477937",
    "b4": "-1.821255978",
    "b5": "1.330274429",
}


def _p_two_sided(z: str) -> str:
    """Two-sided normal p-value of |z| via the A&S 26.2.17 polynomial:
    p = 2 * phi(|z|) * (b1 t + b2 t^2 + ... + b5 t^5),
    t = 1 / (1 + 0.2316419 |z|). One text, both engines."""
    az = f"abs({z})"
    t = f"(1.0 / (1.0 + {_ZS['p']} * {az}))"
    poly = (
        f"((((({_ZS['b5']} * {t} + {_ZS['b4']}) * {t} + {_ZS['b3']}) * {t}"
        f" + {_ZS['b2']}) * {t} + {_ZS['b1']}) * {t})"
    )
    phi = f"(0.3989422804014327 * exp(-0.5 * {az} * {az}))"
    return f"(2.0 * {phi} * {poly})"


def _bh_oracle() -> str:
    p_expr = _p_two_sided("z")
    return f"""
    WITH bounds AS (
      SELECT min(ts) + INTERVAL {_AB_PRE_DAYS} DAY AS exp_start FROM events
    ),
    per_user AS MATERIALIZED (
      SELECT user_id, {_arm_duck()} AS arm,
             CAST(coalesce(sum(CASE WHEN ts >= (SELECT exp_start FROM bounds)
                                     AND event_type = 'purchase'
                                     AND value >= {_AB_CONV_VALUE}
                                    THEN 1 END), 0) > 0 AS BOOLEAN)
               AS converted
      FROM events GROUP BY 1, 2
    ),
    seg AS (
      SELECT u.user_id, u.arm, u.converted,
             coalesce(n.n_name, 'unknown') AS segment
      FROM per_user u
      LEFT JOIN customer c ON c.c_custkey = u.user_id
      LEFT JOIN nation n ON n.n_nationkey = c.c_nationkey
    ),
    cells AS (
      SELECT segment,
             CAST(sum(CASE WHEN arm = 'control' THEN 1 ELSE 0 END)
                  AS BIGINT) AS nc,
             CAST(sum(CASE WHEN arm = 'treatment' THEN 1 ELSE 0 END)
                  AS BIGINT) AS nt,
             CAST(coalesce(sum(CASE WHEN arm = 'control' AND converted
                               THEN 1 END), 0) AS BIGINT) AS cc,
             CAST(coalesce(sum(CASE WHEN arm = 'treatment' AND converted
                               THEN 1 END), 0) AS BIGINT) AS ct
      FROM seg GROUP BY segment
    ),
    tested AS (
      SELECT segment,
             CASE WHEN NOT {_seg_included()} THEN 0.0
                  ELSE {_seg_d()} / sqrt({_seg_v()}) END AS z,
             {_seg_included()} AS included
      FROM cells
    ),
    pvals AS (
      SELECT segment, z,
             CASE WHEN NOT included THEN 1.0
                  ELSE least(1.0, {p_expr}) END AS p,
             included
      FROM tested
    ),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m
          FROM pvals WHERE included),
    ranked AS (
      SELECT segment, z, p, included,
             CASE WHEN included THEN
               row_number() OVER (PARTITION BY included
                                  ORDER BY p, segment) END AS rk
      FROM pvals
    ),
    cutoff AS (
      SELECT coalesce(max(CASE WHEN r.p <= CAST(r.rk AS DOUBLE)
                                    / m.m * {_BH_Q}
                               THEN r.rk END), 0) AS k_max
      FROM ranked r CROSS JOIN m
      WHERE r.included
    )
    SELECT r.segment,
           round(r.z, 6) AS z_segment,
           round(r.p, 6) AS p_value,
           CAST(coalesce(r.rk, 0) AS BIGINT) AS bh_rank,
           CAST(ROUND(CAST(CASE WHEN r.rk IS NULL OR m.m = 0 THEN 0.0
                ELSE CAST(r.rk AS DOUBLE) / m.m * {_BH_Q} END
                AS DECIMAL(27,12)), 6) AS DOUBLE) AS bh_critical,
           (r.included AND r.rk <= c.k_max) AS rejected,
           m.m AS n_tested, c.k_max AS n_rejected
    FROM ranked r CROSS JOIN m CROSS JOIN cutoff c
    """


@register(
    "ab_segment_fdr_bh",
    oracle=_bh_oracle(),
    description="Benjamini-Hochberg FDR control over the per-segment "
    "treatment tests — the multiple-testing guard that belongs next to "
    "the heterogeneity drill-down (scanning ~25 segments at alpha=0.05 "
    "expects a false positive by design; BH bounds the EXPECTED "
    "false-discovery fraction at q=0.1 by rejecting the largest "
    "p-ranked prefix with p_(k) <= (k/m) q). Two-sided p-values come "
    "from the Zelen-Severo (A&S 26.2.17) normal-CDF polynomial — one "
    "shared expression text over bit-identical pooled-variance z's, "
    "|error| < 7.5e-8, four orders below the round-6 grid — so ranks, "
    "critical values, and rejections agree cross-engine; degenerate "
    "segments read p = 1 and are excluded from m. Scale: the same "
    "per-user aggregate + broadcast dim hop as the heterogeneity "
    "query, then the entire BH procedure (sort, rank, step-up cutoff) "
    "runs on the ~25-row segment grid.",
    tags=("experiment", "ab-test", "stats", "multiple-testing"),
)
def ab_segment_fdr_bh(spark, sf_dir):
    from pyspark.sql import Window

    ev = T(spark, sf_dir, "events")
    per_user = (
        ev.crossJoin(_exp_start(ev))  # scale-ok: 1-row broadcast scalar
        .groupBy(F.col("user_id"), _arm_spark().alias("arm"))
        .agg(
            (
                F.coalesce(
                    F.sum(
                        F.when(
                            (F.col("ts") >= F.col("exp_start"))
                            & (F.col("event_type") == "purchase")
                            & (F.col("value") >= _AB_CONV_VALUE),
                            1,
                        )
                    ),
                    F.lit(0),
                )
                > 0
            ).alias("converted")
        )
    )
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = T(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cells = (
        per_user.join(
            F.broadcast(c), per_user.user_id == c.c_custkey, "left"
        )
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left")
        .select(
            "arm",
            "converted",
            F.coalesce(F.col("n_name"), F.lit("unknown")).alias("segment"),
        )
        .groupBy("segment")
        .agg(
            F.sum(F.when(F.col("arm") == "control", 1).otherwise(0))
            .cast("long")
            .alias("nc"),
            F.sum(F.when(F.col("arm") == "treatment", 1).otherwise(0))
            .cast("long")
            .alias("nt"),
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("arm") == "control") & F.col("converted"), 1
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("cc"),
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("arm") == "treatment") & F.col("converted"),
                        1,
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("ct"),
        )
    )
    p_expr = _p_two_sided("z")
    pvals = cells.selectExpr(
        "segment",
        f"CASE WHEN NOT {_seg_included()} THEN 0.0"
        f" ELSE {_seg_d()} / sqrt({_seg_v()}) END AS z",
        f"{_seg_included()} AS included",
    ).selectExpr(
        "segment",
        "z",
        f"CASE WHEN NOT included THEN 1.0"
        f" ELSE least(1.0, {p_expr}) END AS p",
        "included",
    ).persist()  # ~25-row segment grid: rank pass + report share it
    wr = Window.partitionBy("included").orderBy("p", "segment")  # scale-ok: ~25-row segment grid
    ranked = pvals.select(
        "segment",
        "z",
        "p",
        "included",
        F.when(F.col("included"), F.row_number().over(wr)).alias("rk"),
    )
    m = pvals.where("included").agg(
        F.count("*").cast("long").alias("m")
    )
    cutoff = (
        ranked.where("included")
        .crossJoin(F.broadcast(m))  # scale-ok: segment grid x 1-row m
        .agg(
            F.coalesce(
                F.max(
                    F.when(
                        F.expr(
                            f"p <= CAST(rk AS DOUBLE) / m * {_BH_Q}"
                        ),
                        F.col("rk"),
                    )
                ),
                F.lit(0),
            ).alias("k_max")
        )
    )
    return (
        ranked.crossJoin(F.broadcast(m))  # scale-ok: segment grid x 1-row m
        .crossJoin(F.broadcast(cutoff))  # scale-ok: segment grid x 1-row cutoff
        .selectExpr(
            "segment",
            "round(z, 6) AS z_segment",
            "round(p, 6) AS p_value",
            "CAST(coalesce(rk, 0) AS BIGINT) AS bh_rank",
            f"""CAST(ROUND(CAST(CASE WHEN rk IS NULL OR m = 0 THEN 0.0
                ELSE CAST(rk AS DOUBLE) / m * {_BH_Q} END
                AS DECIMAL(27,12)), 6) AS DOUBLE) AS bh_critical""",
            "(included AND rk <= k_max) AS rejected",
            "m AS n_tested",
            "k_max AS n_rejected",
        )
    )


# ---------------------------------------------------------------------------
# One-way ANOVA across nation segments: does the per-user experiment
# metric differ across >2 groups at all? The F-test is the classical
# omnibus companion to the pairwise machinery above — the segment
# drill-down asks WHERE the effect differs (and BH guards the scan);
# ANOVA asks the prior question, whether group membership explains any
# variance, in one statistic with known dfs. Everything reduces to
# three per-group moments (n, Σy, Σy²), so the decomposition
# SST = SSB + SSW comes out of exact decimal sums.
# ---------------------------------------------------------------------------


# Shared scalar texts over the grand-row columns (k, nn, s_all, ss_all,
# ssb_raw). ssb_raw = sum_g sy_g^2/n_g; SSB = ssb_raw - S^2/N;
# SSW = SS - ssb_raw; SST = SS - S^2/N.
_ANOVA_F = """CASE WHEN k < 2 OR nn <= CAST(k AS DOUBLE)
                   OR (ss_all - ssb_raw) <= 0.0 THEN 0.0
              ELSE ((ssb_raw - s_all * s_all / nn) / (CAST(k AS DOUBLE) - 1.0))
                   / ((ss_all - ssb_raw) / (nn - CAST(k AS DOUBLE))) END"""
_ANOVA_ETA = """CASE WHEN (ss_all - s_all * s_all / nn) <= 0.0 THEN 0.0
               ELSE greatest(0.0, (ssb_raw - s_all * s_all / nn)
                    / (ss_all - s_all * s_all / nn)) END"""


def _anova_oracle() -> str:
    return f"""
    WITH bounds AS (
      SELECT min(ts) + INTERVAL {_AB_PRE_DAYS} DAY AS exp_start FROM events
    ),
    per_user AS MATERIALIZED (
      SELECT user_id,
             CAST(coalesce(sum(CASE WHEN ts >= (SELECT exp_start FROM bounds)
                                    THEN CAST(value AS DECIMAL(18,6)) END),
                           0) AS DECIMAL(18,6)) AS y
      FROM events GROUP BY 1
    ),
    seg AS (
      SELECT coalesce(n.n_name, 'unknown') AS segment, u.y
      FROM per_user u
      LEFT JOIN customer c ON c.c_custkey = u.user_id
      LEFT JOIN nation n ON n.n_nationkey = c.c_nationkey
    ),
    cells AS (
      SELECT segment,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(CAST(CAST(y AS DECIMAL(19,6)) * y
                           AS DECIMAL(38,12))) AS DOUBLE) AS syy
      FROM seg GROUP BY segment
    ),
    grand AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n) AS DOUBLE) AS nn,
             CAST(sum(CAST(sy AS DECIMAL(38,10))) AS DOUBLE) AS s_all,
             CAST(sum(CAST(syy AS DECIMAL(38,10))) AS DOUBLE) AS ss_all,
             CAST(sum(CAST(sy * sy / CAST(n AS DOUBLE)
                           AS DECIMAL(38,10))) AS DOUBLE) AS ssb_raw
      FROM cells
    )
    SELECT c.segment,
           c.n AS n_users,
           {r6_sql("c.sy / CAST(c.n AS DOUBLE)")} AS mean_y,
           {r6_sql(_ANOVA_F)} AS f_stat,
           CAST(greatest(g.k - 1, 0) AS BIGINT) AS df_between,
           CAST(greatest(CAST(g.nn AS BIGINT) - g.k, 0) AS BIGINT)
             AS df_within,
           {r6_sql(_ANOVA_ETA)} AS eta_squared
    FROM cells c CROSS JOIN grand g
    """


@register(
    "ab_anova_oneway",
    oracle=_anova_oracle(),
    description="One-way ANOVA of the per-user experiment-period metric "
    "across nation segments — the omnibus F-test that belongs BEFORE "
    "the per-segment drill-down (scanning segments pairwise without an "
    "omnibus gate is the textbook garden-of-forking-paths): F = "
    "MS_between / MS_within with (k-1, N-k) dfs, plus eta^2 = SSB/SST "
    "as the effect size. The whole decomposition reduces to three "
    "per-segment moments (n, sum y, sum y^2) — exact DECIMAL sums, so "
    "SST = SSB + SSW holds bit-for-bit — and the cross-segment "
    "reduction routes its double terms through DECIMAL(38,10) so "
    "segment-order cannot perturb the F statistic (the Cochran's-Q "
    "rule). The DOUBLE epilogue is one shared expression text, rounded "
    "through the DECIMAL(27,12) half-boundary recipe. Scale: one "
    "per-user aggregate (map-side combined), one broadcast dim hop, "
    "then every statistic lives on the ~25-row segment grid.",
    tags=("experiment", "ab-test", "stats", "segmentation"),
)
def ab_anova_oneway(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    per_user = (
        ev.crossJoin(_exp_start(ev))  # scale-ok: 1-row broadcast scalar
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("ts") >= F.col("exp_start"),
                        F.col("value").cast("decimal(18,6)"),
                    )
                ),
                F.lit(0),
            )
            .cast("decimal(18,6)")
            .alias("y")
        )
    )
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = T(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cells = (
        per_user.join(
            F.broadcast(c), per_user.user_id == c.c_custkey, "left"
        )
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left")
        .select(
            F.coalesce(F.col("n_name"), F.lit("unknown")).alias("segment"),
            "y",
        )
        .groupBy("segment")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("y").cast("double").alias("sy"),
            F.sum(F.expr("CAST(y * y AS DECIMAL(38,12))"))
            .cast("double")
            .alias("syy"),
        )
        .persist()  # ~25-row segment grid: per-row report + grand reduction
    )
    grand = cells.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n").cast("double").alias("nn"),
        F.sum(F.expr("CAST(sy AS DECIMAL(38,10))"))
        .cast("double")
        .alias("s_all"),
        F.sum(F.expr("CAST(syy AS DECIMAL(38,10))"))
        .cast("double")
        .alias("ss_all"),
        F.sum(
            F.expr(
                "CAST(sy * sy / CAST(n AS DOUBLE) AS DECIMAL(38,10))"
            )
        )
        .cast("double")
        .alias("ssb_raw"),
    )
    return (
        cells.crossJoin(F.broadcast(grand))  # scale-ok: segment grid x 1-row
        .selectExpr(
            "segment",
            "n AS n_users",
            f"{r6_sql('sy / CAST(n AS DOUBLE)')} AS mean_y",
            f"{r6_sql(_ANOVA_F)} AS f_stat",
            "CAST(greatest(k - 1, 0) AS BIGINT) AS df_between",
            "CAST(greatest(CAST(nn AS BIGINT) - k, 0) AS BIGINT)"
            " AS df_within",
            f"{r6_sql(_ANOVA_ETA)} AS eta_squared",
        )
    )


# ---------------------------------------------------------------------------
# Log-rank test between the experiment arms (round-9 third session):
# the censoring-aware answer to "does treatment change user lifetime"
# — comparing arm means of lifespan ignores censoring and is biased at
# the observation edge; the log-rank statistic compares the arms'
# entire hazard trajectories using exactly the KM risk-set/event
# tables (km_hazard_table's construction, split by arm). O-E and the
# hypergeometric variance accumulate over the bounded day grid.
# ---------------------------------------------------------------------------


def _logrank_oracle() -> str:
    from datalakes_and_data_integration_spark.plans.temporal import (
        _KM_CENSOR_DAYS,
        _SURV_DAYS,
    )

    return f"""
    WITH horizon AS (
      SELECT CAST(max(ts) AS DATE) - {_KM_CENSOR_DAYS} AS h FROM events
    ),
    life AS MATERIALIZED (
      SELECT user_id, {_arm_duck()} AS arm,
             datediff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE))
               AS span_days,
             CAST(max(ts) AS DATE) > (SELECT h FROM horizon) AS censored
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ),
    hist AS (
      SELECT arm, span_days, censored, CAST(count(*) AS BIGINT) AS c
      FROM life GROUP BY 1, 2, 3
    ),
    grid AS (SELECT unnest(range(0, {_SURV_DAYS})) AS day_offset),
    daily AS (
      SELECT g.day_offset,
             CAST(coalesce(sum(CASE WHEN h.arm = 'treatment'
                               AND h.span_days >= g.day_offset
                               THEN h.c END), 0) AS BIGINT) AS n1,
             CAST(coalesce(sum(CASE WHEN h.span_days >= g.day_offset
                               THEN h.c END), 0) AS BIGINT) AS nt,
             CAST(coalesce(sum(CASE WHEN h.arm = 'treatment'
                               AND h.span_days = g.day_offset
                               AND NOT h.censored
                               THEN h.c END), 0) AS BIGINT) AS d1,
             CAST(coalesce(sum(CASE WHEN h.span_days = g.day_offset
                               AND NOT h.censored
                               THEN h.c END), 0) AS BIGINT) AS dt
      FROM grid g CROSS JOIN hist h
      GROUP BY g.day_offset
    ),
    acc AS (
      SELECT
        CAST(coalesce(sum(d1), 0) AS BIGINT) AS o1,
        CAST(coalesce(sum(CAST(CASE WHEN nt = 0 THEN 0.0
             ELSE CAST(dt AS DOUBLE) * CAST(n1 AS DOUBLE)
                  / CAST(nt AS DOUBLE) END
             AS DECIMAL(38,12))), 0) AS DOUBLE) AS e1,
        CAST(coalesce(sum(CAST(CASE WHEN nt <= 1 THEN 0.0
             ELSE CAST(dt AS DOUBLE)
                  * (CAST(n1 AS DOUBLE) / CAST(nt AS DOUBLE))
                  * (1.0 - CAST(n1 AS DOUBLE) / CAST(nt AS DOUBLE))
                  * (CAST(nt - dt AS DOUBLE) / CAST(nt - 1 AS DOUBLE)) END
             AS DECIMAL(38,12))), 0) AS DOUBLE) AS v
      FROM daily
    ),
    arms AS (
      SELECT CAST(coalesce(sum(CASE WHEN arm = 'control' THEN 1 END), 0)
                  AS BIGINT) AS n_control,
             CAST(coalesce(sum(CASE WHEN arm = 'treatment' THEN 1 END), 0)
                  AS BIGINT) AS n_treatment
      FROM life
    )
    SELECT a.n_control, a.n_treatment, x.o1 AS observed_treatment,
           CAST(ROUND(CAST(x.e1 AS DECIMAL(27,12)), 6) AS DOUBLE)
             AS expected_treatment,
           CAST(ROUND(CAST(x.v AS DECIMAL(27,12)), 6) AS DOUBLE)
             AS variance,
           CAST(ROUND(CAST(CASE WHEN x.v <= 0.0 THEN 0.0
                ELSE (CAST(x.o1 AS DOUBLE) - x.e1) / sqrt(x.v) END
                AS DECIMAL(27,12)), 6) AS DOUBLE) AS z_score,
           CASE WHEN x.v <= 0.0 THEN FALSE
                ELSE abs((CAST(x.o1 AS DOUBLE) - x.e1) / sqrt(x.v))
                     > {_Z_ALPHA} END AS significant_95
    FROM acc x CROSS JOIN arms a
    """


@register(
    "ab_logrank_test",
    oracle=_logrank_oracle(),
    description="Log-rank (Mantel-Cox) test between the experiment "
    "arms over right-censored purchase lifespans — the censoring-aware "
    "member of the experiment panel: comparing arm mean lifespans "
    "counts still-active users as churned at the observation edge; "
    "the log-rank statistic compares the full hazard trajectories "
    "using km_hazard_table's risk-set construction split by arm "
    "(same censor horizon, same purchase-lifespan basis). O1 is an "
    "exact integer; E1 and the hypergeometric variance accumulate "
    "per-day double terms through DECIMAL(38,12) (day order cannot "
    "perturb them); the z epilogue shares the panel's 1.959964 "
    "critical value. Scale: one per-user purchase aggregate touches "
    "the corpus; every statistic lives on the bounded (day x arm x "
    "censored) histogram crossed with the 30-day grid.",
    tags=("experiment", "ab-test", "survival", "stats"),
)
def ab_logrank_test(spark, sf_dir):
    from datalakes_and_data_integration_spark.plans.temporal import (
        _KM_CENSOR_DAYS,
        _SURV_DAYS,
    )

    ev = T(spark, sf_dir, "events")
    horizon = F.broadcast(
        ev.agg(
            F.date_sub(F.max("ts").cast("date"), _KM_CENSOR_DAYS).alias(
                "h"
            )
        )
    )
    life = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("user_id"), _arm_spark().alias("arm"))
        .agg(
            F.datediff(
                F.max("ts").cast("date"), F.min("ts").cast("date")
            ).alias("span_days"),
            F.max("ts").cast("date").alias("last_day"),
        )
        .crossJoin(horizon)  # scale-ok: 1-row horizon scalar
        .select(
            "arm",
            "span_days",
            (F.col("last_day") > F.col("h")).alias("censored"),
        )
        .persist()  # histogram + arm counts read it
    )
    hist = life.groupBy("arm", "span_days", "censored").agg(
        F.count("*").cast("long").alias("c")
    )
    grid = spark.range(0, _SURV_DAYS).select(
        F.col("id").cast("long").alias("day_offset")
    )
    is_t = F.col("arm") == "treatment"
    at_risk = F.col("span_days") >= F.col("day_offset")
    ev_day = (F.col("span_days") == F.col("day_offset")) & ~F.col(
        "censored"
    )
    daily = (
        grid.crossJoin(hist)  # scale-ok: 30-day grid x bounded histogram
        .groupBy("day_offset")
        .agg(
            F.coalesce(F.sum(F.when(is_t & at_risk, F.col("c"))), F.lit(0))
            .cast("long")
            .alias("n1"),
            F.coalesce(F.sum(F.when(at_risk, F.col("c"))), F.lit(0))
            .cast("long")
            .alias("nt"),
            F.coalesce(F.sum(F.when(is_t & ev_day, F.col("c"))), F.lit(0))
            .cast("long")
            .alias("d1"),
            F.coalesce(F.sum(F.when(ev_day, F.col("c"))), F.lit(0))
            .cast("long")
            .alias("dt"),
        )
    )
    acc = daily.agg(
        F.coalesce(F.sum("d1"), F.lit(0)).cast("long").alias("o1"),
        F.coalesce(
            F.sum(
                F.expr(
                    "CAST(CASE WHEN nt = 0 THEN 0.0"
                    " ELSE CAST(dt AS DOUBLE) * CAST(n1 AS DOUBLE)"
                    " / CAST(nt AS DOUBLE) END AS DECIMAL(38,12))"
                )
            ),
            F.lit(0),
        )
        .cast("double")
        .alias("e1"),
        F.coalesce(
            F.sum(
                F.expr(
                    "CAST(CASE WHEN nt <= 1 THEN 0.0"
                    " ELSE CAST(dt AS DOUBLE)"
                    " * (CAST(n1 AS DOUBLE) / CAST(nt AS DOUBLE))"
                    " * (1.0 - CAST(n1 AS DOUBLE) / CAST(nt AS DOUBLE))"
                    " * (CAST(nt - dt AS DOUBLE)"
                    " / CAST(nt - 1 AS DOUBLE)) END AS DECIMAL(38,12))"
                )
            ),
            F.lit(0),
        )
        .cast("double")
        .alias("v"),
    )
    arms = life.agg(
        F.coalesce(
            F.sum(F.when(F.col("arm") == "control", 1)), F.lit(0)
        )
        .cast("long")
        .alias("n_control"),
        F.coalesce(F.sum(F.when(is_t, 1)), F.lit(0))
        .cast("long")
        .alias("n_treatment"),
    )
    return (
        acc.crossJoin(F.broadcast(arms))  # scale-ok: 1-row frames
        .selectExpr(
            "n_control",
            "n_treatment",
            "o1 AS observed_treatment",
            f"{r6_sql('e1')} AS expected_treatment",
            f"{r6_sql('v')} AS variance",
            f"""{r6_sql("CASE WHEN v <= 0.0 THEN 0.0"
                " ELSE (CAST(o1 AS DOUBLE) - e1) / sqrt(v) END")}
              AS z_score""",
            f"""CASE WHEN v <= 0.0 THEN FALSE
                ELSE abs((CAST(o1 AS DOUBLE) - e1) / sqrt(v))
                     > {_Z_ALPHA} END AS significant_95""",
        )
    )
