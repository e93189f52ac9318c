"""Distribution-drift monitoring — the guardrails a continuously-fed
training corpus needs: "did this source's length distribution shift?"
(two-sample Kolmogorov-Smirnov) and "are language and source still
independent?" (chi-square) as plain grouped/windowed aggregates.

Scale notes:
- The KS statistic needs cumulative counts over the VALUE order. That is
  a global prefix sum — computed with the same two-level scheme as
  sequence_packing / customer_spend_quartiles (range-partition on value,
  window per partition, add per-partition offsets), never a
  single-task global window over the raw distribution.
- The chi-square table is |langs x sources| cells — structural, tiny;
  the only big operation is the one grouped count over the corpus.

Determinism: counts are integers; CDF fractions are single double
divisions of integers (identical in both engines); the chi-square sum
routes through DECIMAL so cell order can't move it.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datalakes_and_data_integration_spark.plans._util import T, r6_sql
from datalakes_and_data_integration_spark.plans.registry import register

_KS_A = "src0"
_KS_B = "src1"


@register(
    "ks_drift_n_chars",
    oracle=f"""
    WITH counts AS (
      SELECT n_chars AS v,
             sum(CASE WHEN source = '{_KS_A}' THEN 1 ELSE 0 END) AS ca,
             sum(CASE WHEN source = '{_KS_B}' THEN 1 ELSE 0 END) AS cb
      FROM documents
      WHERE source IN ('{_KS_A}', '{_KS_B}')
      GROUP BY n_chars
    ),
    tot AS (
      SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
      FROM counts
    ),
    cdf AS (
      SELECT v,
             sum(ca) OVER (ORDER BY v) AS cum_a,
             sum(cb) OVER (ORDER BY v) AS cum_b
      FROM counts
    ),
    diffs AS (
      SELECT v,
             abs(CAST(cum_a AS DOUBLE) / na - CAST(cum_b AS DOUBLE) / nb)
               AS d
      FROM cdf CROSS JOIN tot
    )
    SELECT t.na AS n_a, t.nb AS n_b,
           round((SELECT max(d) FROM diffs), 6) AS ks_stat,
           (SELECT min(v) FROM diffs
            WHERE d = (SELECT max(d) FROM diffs)) AS ks_at_value
    FROM tot t
    """,
    description=f"Two-sample Kolmogorov-Smirnov over n_chars "
    f"({_KS_A} vs {_KS_B}): per-value counts (one grouped shuffle), "
    "cumulative counts via the two-level distributed prefix sum (range-"
    "partition on value + per-partition offsets — no single-task global "
    "window), max |CDF difference| with its smallest attaining value. "
    "Counts are integers and each CDF fraction is one double division, "
    "so both engines agree exactly.",
    tags=("drift", "ks", "monitoring", "llm-pipeline"),
)
def ks_drift_n_chars(spark, sf_dir):
    from pyspark.sql import Window

    d = T(spark, sf_dir, "documents").filter(
        F.col("source").isin(_KS_A, _KS_B)
    )
    counts = d.groupBy(F.col("n_chars").alias("v")).agg(
        F.sum(F.when(F.col("source") == _KS_A, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("source") == _KS_B, 1).otherwise(0)).alias("cb"),
    )
    # Two-level distributed prefix sum over the value order.
    parts = (
        counts.repartitionByRange(32, "v")
        .withColumn("__pid", F.spark_partition_id())
        .persist()
    )
    wl = Window.partitionBy("__pid").orderBy("v")
    local = parts.withColumn("__la", F.sum("ca").over(wl)).withColumn(
        "__lb", F.sum("cb").over(wl)
    )
    totals = parts.groupBy("__pid").agg(
        F.sum("ca").alias("__pa"), F.sum("cb").alias("__pb")
    )
    # scale-ok: window over one row per range partition
    wo = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "__pid",
        F.coalesce(F.sum("__pa").over(wo), F.lit(0)).alias("__oa"),
        F.coalesce(F.sum("__pb").over(wo), F.lit(0)).alias("__ob"),
    )
    cdf = local.join(F.broadcast(offsets), "__pid").select(
        "v",
        (F.col("__la") + F.col("__oa")).alias("cum_a"),
        (F.col("__lb") + F.col("__ob")).alias("cum_b"),
    )
    tot = counts.agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    diffs = cdf.crossJoin(F.broadcast(tot)).select(  # scale-ok: 1-row totals
        "v",
        "na",
        "nb",
        F.abs(
            F.col("cum_a").cast("double") / F.col("na")
            - F.col("cum_b").cast("double") / F.col("nb")
        ).alias("d"),
    )
    best = diffs.agg(F.max("d").alias("dmax"))
    at = (
        diffs.join(F.broadcast(best), F.col("d") == F.col("dmax"))
        .agg(F.min("v").alias("ks_at_value"))
    )
    return (
        tot.crossJoin(F.broadcast(best))  # scale-ok: 1-row frames
        .crossJoin(F.broadcast(at))  # scale-ok: 1-row frames
        .select(
            F.col("na").alias("n_a"),
            F.col("nb").alias("n_b"),
            F.round("dmax", 6).alias("ks_stat"),
            "ks_at_value",
        )
    )


@register(
    "chi2_lang_source",
    oracle="""
    WITH obs AS (
      SELECT lang, source, count(*) AS o FROM documents GROUP BY lang, source
    ),
    rows_t AS (SELECT lang, sum(o) AS rl FROM obs GROUP BY lang),
    cols_t AS (SELECT source, sum(o) AS cs FROM obs GROUP BY source),
    n_t AS (SELECT sum(o) AS n FROM obs),
    cells AS (
      SELECT o.lang, o.source, o.o,
             CAST(r.rl AS DOUBLE) * c.cs / t.n AS e
      FROM obs o
      JOIN rows_t r ON r.lang = o.lang
      JOIN cols_t c ON c.source = o.source
      CROSS JOIN n_t t
    )
    SELECT (SELECT count(*) FROM rows_t) AS n_langs,
           (SELECT count(*) FROM cols_t) AS n_sources,
           ((SELECT count(*) FROM rows_t) - 1)
             * ((SELECT count(*) FROM cols_t) - 1) AS dof,
           CAST(ROUND(sum(CAST((o - e) * (o - e) / e AS DECIMAL(27,12))), 4)
                AS DOUBLE) AS chi2
    FROM cells
    """,
    description="Chi-square independence test for lang x source: one "
    "grouped count over the corpus, then expected counts from broadcast "
    "row/column totals over the structural |langs x sources| cell table; "
    "the statistic sums through DECIMAL so cell order can't move it. "
    "The drift alarm for 'did the language mix of a source change'.",
    tags=("drift", "chi2", "monitoring", "llm-pipeline"),
)
def chi2_lang_source(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    obs = d.groupBy("lang", "source").agg(F.count("*").alias("o"))
    rows_t = obs.groupBy("lang").agg(F.sum("o").alias("rl"))
    cols_t = obs.groupBy("source").agg(F.sum("o").alias("cs"))
    n_t = obs.agg(F.sum("o").alias("n"))
    cells = (
        obs.join(F.broadcast(rows_t), "lang")
        .join(F.broadcast(cols_t), "source")
        .crossJoin(F.broadcast(n_t))  # scale-ok: 1-row total
        .withColumn(
            "e", F.col("rl").cast("double") * F.col("cs") / F.col("n")
        )
    )
    nl = rows_t.agg(F.count("*").alias("n_langs"))
    ns = cols_t.agg(F.count("*").alias("n_sources"))
    stat = cells.agg(
        F.round(
            F.sum(
                F.expr("CAST((o - e) * (o - e) / e AS DECIMAL(27,12))")
            ),
            4,
        )
        .cast("double")
        .alias("chi2")
    )
    return (
        nl.crossJoin(F.broadcast(ns))  # scale-ok: 1-row frames
        .crossJoin(F.broadcast(stat))  # scale-ok: 1-row frames
        .select(
            "n_langs",
            "n_sources",
            ((F.col("n_langs") - 1) * (F.col("n_sources") - 1)).alias("dof"),
            "chi2",
        )
    )


# ---------------------------------------------------------------------------
# Population Stability Index — the standard ML-monitoring drift score.
# Fixed-width buckets (no quantile estimation to disagree on); per-bucket
# terms are identical double expressions; the final sum runs over the
# bounded bucket table through DECIMAL. Empty buckets use the standard
# epsilon floor so ln() stays finite on both engines.
# ---------------------------------------------------------------------------

_PSI_BUCKET_W = 100  # n_chars per bucket
_PSI_EPS = 1e-6


@register(
    "psi_drift_n_chars",
    oracle=f"""
    WITH bucketed AS (
      SELECT CAST(n_chars // {_PSI_BUCKET_W} AS BIGINT) AS bucket,
             sum(CASE WHEN source = '{_KS_A}' THEN 1 ELSE 0 END) AS ca,
             sum(CASE WHEN source = '{_KS_B}' THEN 1 ELSE 0 END) AS cb
      FROM documents
      WHERE source IN ('{_KS_A}', '{_KS_B}')
      GROUP BY 1
    ),
    tot AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM bucketed),
    terms AS (
      SELECT bucket,
             greatest(CAST(ca AS DOUBLE) / na, {_PSI_EPS}) AS pa,
             greatest(CAST(cb AS DOUBLE) / nb, {_PSI_EPS}) AS pb
      FROM bucketed CROSS JOIN tot
    )
    SELECT (SELECT count(*) FROM bucketed) AS n_buckets,
           CAST(ROUND(sum(CAST((pa - pb) * ln(pa / pb)
                               AS DECIMAL(27,12))), 6) AS DOUBLE) AS psi
    FROM terms
    """,
    description=f"Population Stability Index over n_chars ({_KS_A} vs "
    f"{_KS_B}), fixed {_PSI_BUCKET_W}-wide buckets with the standard "
    "epsilon floor for empty cells: one grouped count, per-bucket "
    "(pa-pb)*ln(pa/pb) terms as identical double expressions, summed "
    "through DECIMAL over the bounded bucket table. PSI > 0.2 is the "
    "conventional retrain/investigate alarm.",
    tags=("drift", "psi", "monitoring", "llm-pipeline"),
)
def psi_drift_n_chars(spark, sf_dir):
    d = T(spark, sf_dir, "documents").filter(
        F.col("source").isin(_KS_A, _KS_B)
    )
    bucketed = d.groupBy(
        F.expr(f"CAST(n_chars div {_PSI_BUCKET_W} AS BIGINT)").alias("bucket")
    ).agg(
        F.sum(F.when(F.col("source") == _KS_A, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("source") == _KS_B, 1).otherwise(0)).alias("cb"),
    )
    tot = bucketed.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    terms = bucketed.crossJoin(F.broadcast(tot)).select(  # scale-ok: 1-row totals
        F.greatest(
            F.col("ca").cast("double") / F.col("na"), F.lit(_PSI_EPS)
        ).alias("pa"),
        F.greatest(
            F.col("cb").cast("double") / F.col("nb"), F.lit(_PSI_EPS)
        ).alias("pb"),
    )
    nb = bucketed.agg(F.count("*").alias("n_buckets"))
    psi = terms.agg(
        F.round(
            F.sum(
                F.expr("CAST((pa - pb) * ln(pa / pb) AS DECIMAL(27,12))")
            ),
            6,
        )
        .cast("double")
        .alias("psi")
    )
    return nb.crossJoin(F.broadcast(psi))  # scale-ok: 1-row frames


# ---------------------------------------------------------------------------
# Completeness monitoring: which (day, event_type) slices are missing
# hourly buckets — the freshness/ingest-health check a scheduled pipeline
# runs before publishing a partition. Pure integer grouped aggregates.
# ---------------------------------------------------------------------------


@register(
    "completeness_hourly_report",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
           count(DISTINCT date_trunc('hour', ts)) AS hours_present,
           24 - count(DISTINCT date_trunc('hour', ts)) AS hours_missing,
           count(*) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
    description="Ingest-completeness report: per (day, event_type), how "
    "many of the 24 hourly buckets contain data and how many are missing "
    "— one grouped distinct-count, integer output, the publish-gate "
    "check for a scheduled pipeline.",
    tags=("drift", "completeness", "monitoring"),
)
def completeness_hourly_report(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    hours = F.countDistinct(F.date_trunc("hour", "ts"))
    return ev.groupBy(
        F.date_trunc("day", "ts").alias("day"), "event_type"
    ).agg(
        hours.alias("hours_present"),
        (F.lit(24) - hours).alias("hours_missing"),
        F.count("*").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Language-balance entropy per source: Shannon entropy of each source's
# language mix (and the max possible, ln of the global language count) —
# the balance metric mixture design optimizes. Terms over the structural
# |sources x langs| cells, decimal-summed.
# ---------------------------------------------------------------------------


@register(
    "source_lang_entropy",
    oracle="""
    WITH cells AS (
      SELECT source, lang, count(*) AS n FROM documents GROUP BY source, lang
    ),
    per_source AS (SELECT source, sum(n) AS ns FROM cells GROUP BY source),
    langs AS (SELECT count(DISTINCT lang) AS n_langs FROM documents)
    SELECT c.source,
           CAST(ROUND(sum(CAST(
             -(CAST(c.n AS DOUBLE) / p.ns) * ln(CAST(c.n AS DOUBLE) / p.ns)
             AS DECIMAL(27,12))), 6) AS DOUBLE) AS entropy,
           round(ln(CAST(l.n_langs AS DOUBLE)), 6) AS max_entropy,
           count(*) AS n_langs_present
    FROM cells c
    JOIN per_source p ON p.source = c.source
    CROSS JOIN langs l
    GROUP BY c.source, l.n_langs
    """,
    description="Shannon entropy of each source's language mix (nats), "
    "with the global-language-count ceiling — the balance metric corpus "
    "mixing optimizes. Per-cell -p*ln(p) terms are identical double "
    "expressions over the structural cell table, decimal-summed.",
    tags=("drift", "entropy", "curation", "llm-pipeline"),
)
def source_lang_entropy(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    cells = d.groupBy("source", "lang").agg(F.count("*").alias("n"))
    per_source = cells.groupBy("source").agg(F.sum("n").alias("ns"))
    langs = d.agg(F.countDistinct("lang").alias("n_langs"))
    p = F.col("n").cast("double") / F.col("ns")
    term = (-p * F.log(p)).cast("decimal(27,12)")
    return (
        cells.join(F.broadcast(per_source), "source")
        .crossJoin(F.broadcast(langs))  # scale-ok: 1-row language count
        .groupBy("source", "n_langs")
        .agg(
            F.round(F.sum(term), 6).cast("double").alias("entropy"),
            F.round(
                F.log(F.col("n_langs").cast("double")), 6
            ).alias("max_entropy_x"),
            F.count("*").alias("n_langs_present"),
        )
        .select(
            "source",
            "entropy",
            F.col("max_entropy_x").alias("max_entropy"),
            "n_langs_present",
        )
    )


# ---------------------------------------------------------------------------
# Lang x source mutual information (round-9 third session): the
# information-theoretic dependence scalar next to chi2_lang_source's
# significance test — chi-square says WHETHER the mixture is
# source-dependent, MI (and its normalized form) says HOW MUCH, in
# nats, comparable across corpora. All cell/margin counts are exact
# integers; each cell's ratio n_ls*N/(n_l*n_s) is an exact-integer-
# ratio double (products < 2^53 — the term_domain_signature rule);
# ln rides the entropy contract; and cross-cell sums route their
# double terms through DECIMAL(38,12) so cell order cannot perturb
# the statistic.
# ---------------------------------------------------------------------------


# Shared texts: per-cell MI term over (o, rl, cs, n); per-margin
# entropy term over (m, n).
_MI_TERM = (
    "CAST((CAST(o AS DOUBLE) / CAST(n AS DOUBLE))"
    " * ln(CAST(o AS DOUBLE) * CAST(n AS DOUBLE)"
    " / (CAST(rl AS DOUBLE) * CAST(cs AS DOUBLE)))"
    " AS DECIMAL(38,12))"
)
_H_TERM = (
    "CAST(0.0 - (CAST(m AS DOUBLE) / CAST(n AS DOUBLE))"
    " * ln(CAST(m AS DOUBLE) / CAST(n AS DOUBLE)) AS DECIMAL(38,12))"
)
def _nmi(mi: str = "mi", hl: str = "h_lang", hs: str = "h_source") -> str:
    """NMI guard text; the oracle passes qualified references (one
    template, no .replace chains)."""
    return f"""CASE WHEN {hl} <= 0.0 OR {hs} <= 0.0 THEN 0.0
          ELSE {mi} / sqrt({hl} * {hs}) END"""


_NMI = _nmi()


def _mi_oracle() -> str:
    return f"""
    WITH obs AS MATERIALIZED (
      SELECT lang, source, CAST(count(*) AS BIGINT) AS o
      FROM documents GROUP BY 1, 2
    ),
    rl AS (SELECT lang, CAST(sum(o) AS BIGINT) AS rl FROM obs GROUP BY 1),
    cs AS (SELECT source, CAST(sum(o) AS BIGINT) AS cs FROM obs GROUP BY 1),
    nt AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM obs),
    mi AS (
      SELECT CAST(coalesce(sum({_MI_TERM}), 0) AS DOUBLE) AS mi
      FROM obs JOIN rl USING (lang) JOIN cs USING (source) CROSS JOIN nt
    ),
    hl AS (
      SELECT CAST(coalesce(sum({_H_TERM}), 0) AS DOUBLE) AS h_lang
      FROM (SELECT rl AS m FROM rl) CROSS JOIN nt
    ),
    hs AS (
      SELECT CAST(coalesce(sum({_H_TERM}), 0) AS DOUBLE) AS h_source
      FROM (SELECT cs AS m FROM cs) CROSS JOIN nt
    )
    SELECT nt.n AS n_docs,
           {r6_sql("mi.mi")} AS mi_nats,
           {r6_sql("hl.h_lang")} AS h_lang,
           {r6_sql("hs.h_source")} AS h_source,
           {r6_sql(_nmi("mi.mi", "hl.h_lang", "hs.h_source"))} AS nmi
    FROM nt CROSS JOIN mi CROSS JOIN hl CROSS JOIN hs
    """


@register(
    "lang_source_mutual_information",
    oracle=_mi_oracle(),
    description="Mutual information (and normalized MI) between the "
    "lang and source columns — the information-theoretic dependence "
    "scalar beside chi2_lang_source's significance test: chi-square "
    "answers whether the language mixture depends on the source, MI "
    "answers how much, in nats, comparable across corpora (the "
    "mixture-design input temperature_mixture_plan consumes "
    "qualitatively). Counts are exact integers; each cell ratio is an "
    "exact-integer-ratio double; ln rides the entropy contract; and "
    "every cross-cell reduction routes its double terms through "
    "DECIMAL(38,12), so cell order cannot perturb the statistic. "
    "Scale: one (lang, source) grouped count touches the corpus; MI, "
    "both entropies and NMI live on the ~25-cell contingency grid.",
    tags=("drift", "stats", "information-theory", "llm-pipeline"),
)
def lang_source_mutual_information(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    obs = d.groupBy("lang", "source").agg(
        F.count("*").cast("long").alias("o")
    ).persist()  # margins + MI reduction read the ~25-cell grid
    rl = obs.groupBy("lang").agg(F.sum("o").cast("long").alias("rl"))
    cs = obs.groupBy("source").agg(F.sum("o").cast("long").alias("cs"))
    nt = obs.agg(F.sum("o").cast("long").alias("n"))
    mi = (
        obs.join(F.broadcast(rl), "lang")
        .join(F.broadcast(cs), "source")
        .crossJoin(F.broadcast(nt))  # scale-ok: 1-row total
        .agg(
            F.coalesce(F.sum(F.expr(_MI_TERM)), F.lit(0))
            .cast("double")
            .alias("mi")
        )
    )
    hl = (
        rl.selectExpr("rl AS m")
        .crossJoin(F.broadcast(nt))  # scale-ok: margin x 1-row total
        .agg(
            F.coalesce(F.sum(F.expr(_H_TERM)), F.lit(0))
            .cast("double")
            .alias("h_lang")
        )
    )
    hs = (
        cs.selectExpr("cs AS m")
        .crossJoin(F.broadcast(nt))  # scale-ok: margin x 1-row total
        .agg(
            F.coalesce(F.sum(F.expr(_H_TERM)), F.lit(0))
            .cast("double")
            .alias("h_source")
        )
    )
    return (
        nt.crossJoin(F.broadcast(mi))  # scale-ok: 1-row frames
        .crossJoin(F.broadcast(hl))
        .crossJoin(F.broadcast(hs))
        .selectExpr(
            "n AS n_docs",
            f"{r6_sql('mi')} AS mi_nats",
            f"{r6_sql('h_lang')} AS h_lang",
            f"{r6_sql('h_source')} AS h_source",
            f"{r6_sql(_NMI)} AS nmi",
        )
    )
