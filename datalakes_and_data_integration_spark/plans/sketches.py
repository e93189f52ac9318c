"""Mergeable sketches built from engine primitives — no UDFs, no native
sketch types, so the DuckDB oracle can run the IDENTICAL construction.

Why build them when Spark ships approx_count_distinct / approx_percentile
(exercised in approx_stats_scale_path)? Because a 100 TB pipeline needs
sketches it can (a) persist and merge across days/partitions and (b)
reproduce bit-for-bit in another engine for audit. A sketch expressed as
a plain grouped aggregate over md5-derived hashes is exactly that: the
count-min table and the HLL register file below are small DataFrames a
daily job unions + re-aggregates (max/sum) to merge.

Determinism notes:
- All hashing is md5-derived (functions/hashing.py) — identical in Spark,
  DuckDB, and Python.
- The HLL harmonic sum is computed in INTEGER arithmetic: sum_j 2^(55 -
  rho_j) fits in int64 exactly (64 registers x 2^54 < 2^63), so the only
  float ops are a final division and log, written identically on both
  engines.
- The leading-zero rank uses an unrolled integer-compare CASE, never
  floating log2 (whose boundary rounding differs per libm).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datalakes_and_data_integration_spark.functions.hashing import (
    hash60_sql_duck,
    hash60_sql_spark,
)
from datalakes_and_data_integration_spark.plans._util import T, spread
from datalakes_and_data_integration_spark.plans.registry import register
from datalakes_and_data_integration_spark.functions.text import (
    tokens_sql_duck,
    tokens_sql_spark,
)

_TOK_SPARK = tokens_sql_spark("text")
_TOK_DUCK = tokens_sql_duck("text")

# --------------------------------------------------------------------------
# Count-min sketch: d=4 rows x w=1024 buckets over corpus term frequencies.
# --------------------------------------------------------------------------

_CMS_D = 4
_CMS_W = 1024
_CMS_SEED0 = 100  # seeds 100..103 — disjoint from minhash/simhash seeds
_CMS_TOP = 20


def _cms_oracle() -> str:
    sketch_rows = " UNION ALL ".join(
        f"SELECT {s} AS seed, "
        f"{hash60_sql_duck('term', seed=_CMS_SEED0 + s)} % {_CMS_W} AS bucket, "
        "cnt FROM term_counts"
        for s in range(_CMS_D)
    )
    est = ", ".join(
        f"(SELECT sk.total FROM sketch sk WHERE sk.seed = {s} AND "
        f"sk.bucket = {hash60_sql_duck('t.term', seed=_CMS_SEED0 + s)} % {_CMS_W})"
        for s in range(_CMS_D)
    )
    return f"""
    WITH tok AS (SELECT {_TOK_DUCK} AS toks FROM documents),
    term_counts AS (
      SELECT term, count(*) AS cnt
      FROM (SELECT unnest(toks) AS term FROM tok)
      GROUP BY term
    ),
    pre AS ({sketch_rows}),
    sketch AS (
      SELECT seed, bucket, sum(cnt) AS total FROM pre GROUP BY seed, bucket
    ),
    top_terms AS (
      SELECT term, cnt FROM term_counts
      ORDER BY cnt DESC, term LIMIT {_CMS_TOP}
    )
    SELECT t.term, t.cnt AS exact_freq,
           CAST(least({est}) AS BIGINT) AS cms_est
    FROM top_terms t
    """


@register(
    "heavy_hitters_cms",
    oracle=_cms_oracle(),
    description=f"Count-min sketch ({_CMS_D} x {_CMS_W}, md5-seeded) over "
    f"corpus term frequencies: the sketch is a grouped aggregate (<= "
    f"{_CMS_D * _CMS_W} rows, mergeable by summing buckets across "
    "partitions/days), estimates for the top terms are min-over-rows "
    "lookups against the broadcast sketch. CMS guarantees est >= exact; "
    "the output carries both so the overestimate is auditable.",
    tags=("sketch", "cms", "heavy-hitters", "llm-pipeline"),
    bench=True,
)
def heavy_hitters_cms(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    term_counts = (
        spread(d.select(F.expr(_TOK_SPARK).alias("toks")), spark)
        .select(F.explode("toks").alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("cnt"))
        .persist()  # consumed by the sketch build AND the top-terms head
    )
    # d sketch rows per term: posexplode of the d bucket ids.
    buckets = F.array(
        *[
            F.expr(hash60_sql_spark("term", seed=_CMS_SEED0 + s))
            % _CMS_W
            for s in range(_CMS_D)
        ]
    )
    sketch = (
        term_counts.select("cnt", F.posexplode(buckets).alias("seed", "bucket"))
        .groupBy("seed", "bucket")
        .agg(F.sum("cnt").alias("total"))
    )
    top_terms = term_counts.orderBy(F.col("cnt").desc(), "term").limit(
        _CMS_TOP
    )
    # ONE equi-join on (seed, bucket) probes all d sketch rows per term at
    # once (the r2 form chained d separate broadcast joins — d extra plan
    # stages for the same min-over-rows lookup), then min() realizes the
    # CMS estimate. The groupBy runs over TOP x d rows.
    top_pb = top_terms.select(
        "term", "cnt", F.posexplode(buckets).alias("seed", "bucket")
    )
    return (
        top_pb.join(F.broadcast(sketch), ["seed", "bucket"])
        .groupBy("term", "cnt")
        .agg(F.min("total").alias("cms_est"))
        .select("term", F.col("cnt").alias("exact_freq"), "cms_est")
    )


# --------------------------------------------------------------------------
# HyperLogLog from scratch: m=64 registers, integer-exact harmonic sum.
# --------------------------------------------------------------------------

_HLL_M = 64  # registers (b = 6 index bits)
_HLL_VBITS = 54  # value bits left after the index
_HLL_ALPHA = 0.709  # alpha_64


def _rho_case(v: str) -> str:
    """rank = leading-zero count of the 54-bit value + 1, as integer
    compares (identical in Spark SQL and DuckDB)."""
    branches = " ".join(
        f"WHEN {v} >= {1 << (_HLL_VBITS - k)} THEN {k}"
        for k in range(1, _HLL_VBITS + 1)
    )
    return f"CASE {branches} ELSE {_HLL_VBITS + 1} END"


def hll_regs(df, *groups: str):
    """(groups..., reg, mrho) register file for distinct ``user_id`` per
    ``groups`` (none: one sketch over ``df``) — THE single Spark copy of
    the register build: md5-derived 60-bit hash -> register index + value
    bits, distinct, rank, grouped max. Register files merge by per-register
    max, the algebra ``merge_state`` maintains them under."""
    h = hash60_sql_spark("CAST(user_id AS STRING)", seed=7)
    hashed = df.select(
        *groups,
        F.expr(f"({h}) % {_HLL_M}").alias("reg"),
        F.expr(f"(({h}) div {_HLL_M}) % {1 << _HLL_VBITS}").alias("val"),
    ).distinct()
    return (
        hashed.select(*groups, "reg", F.expr(_rho_case("val")).alias("rho"))
        .groupBy(*groups, "reg")
        .agg(F.max("rho").alias("mrho"))
    )


def _hll_oracle() -> str:
    h = hash60_sql_duck("CAST(user_id AS VARCHAR)", seed=7)
    reg = f"({h}) % {_HLL_M}"
    val = f"(({h}) // {_HLL_M}) % {1 << _HLL_VBITS}"
    rho = _rho_case("val")
    return f"""
    WITH hashed AS (
      SELECT DISTINCT event_type, {reg} AS reg, {val} AS val FROM events
    ),
    ranked AS (SELECT event_type, reg, {rho} AS rho FROM hashed),
    regs AS (
      SELECT event_type, reg, max(rho) AS mrho FROM ranked
      GROUP BY event_type, reg
    ),
    summed AS (
      SELECT event_type,
             sum(CAST(2 AS BIGINT) ** (55 - mrho)) AS s_present,
             count(*) AS v_present
      FROM regs GROUP BY event_type
    ),
    est AS (
      SELECT event_type,
             {_HLL_ALPHA} * {_HLL_M} * {_HLL_M}
               * CAST({1 << 55} AS DOUBLE)
               / (s_present + (CAST({_HLL_M} AS BIGINT) - v_present)
                              * CAST({1 << 55} AS BIGINT)) AS e_raw,
             v_present
      FROM summed
    ),
    corrected AS (
      SELECT event_type,
             CASE WHEN e_raw <= 2.5 * {_HLL_M}
                       AND v_present < {_HLL_M}
                  THEN {_HLL_M} * ln(CAST({_HLL_M} AS DOUBLE)
                                     / ({_HLL_M} - v_present))
                  ELSE e_raw END AS e
      FROM est
    )
    SELECT c.event_type,
           round(c.e, 4) AS hll_est,
           x.exact_distinct,
           round(abs(c.e - x.exact_distinct) / x.exact_distinct, 4)
             AS rel_err
    FROM corrected c
    JOIN (SELECT event_type, count(DISTINCT user_id) AS exact_distinct
          FROM events GROUP BY event_type) x
      ON x.event_type = c.event_type
    """


@register(
    "distinct_count_hll",
    oracle=_hll_oracle(),
    description=f"HyperLogLog from primitives: md5-derived 60-bit hash -> "
    f"{_HLL_M} registers x max leading-zero rank (a grouped max — the "
    "register file is the mergeable sketch), bias-corrected harmonic "
    "estimate with linear counting below 2.5m. The harmonic sum runs in "
    "exact int64 (sum of 2^(55-rho) <= 64*2^54), so both engines divide "
    "the same integers — float enters only at the final estimate. Output "
    "carries the exact distinct count and relative error per event type.",
    tags=("sketch", "hll", "distinct", "llm-pipeline"),
    bench=True,
)
def distinct_count_hll(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    corrected = (
        hll_regs(ev, "event_type")
        .groupBy("event_type")
        .agg(*hll_sum_aggs())
        .select("event_type", hll_corrected_col().alias("e"))
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return corrected.join(exact, "event_type").select(
        "event_type",
        F.round("e", 4).alias("hll_est"),
        "exact_distinct",
        F.round(
            F.abs(F.col("e") - F.col("exact_distinct"))
            / F.col("exact_distinct"),
            4,
        ).alias("rel_err"),
    )


# --------------------------------------------------------------------------
# Bloom-filter join prefilter: the runtime-filter pattern, built as data.
# The filter over the dim keys is a 66-row (word, bits) bitmap — built with
# one grouped bit_or (mergeable the same way), broadcast to probe the fact
# side before the real join. 63 bits per word keeps every mask positive in
# int64, sidestepping engine differences in sign-bit shifts.
# --------------------------------------------------------------------------

_BF_BITS = 4096
_BF_WPB = 63  # bits per word (avoid the int64 sign bit)
_BF_K = 3
_BF_SEED0 = 200


def _bf_pos_duck(col: str, s: int) -> str:
    return f"{hash60_sql_duck(col, seed=_BF_SEED0 + s)} % {_BF_BITS}"


def _bf_pos_spark(col: str, s: int) -> str:
    return f"{hash60_sql_spark(col, seed=_BF_SEED0 + s)} % {_BF_BITS}"


def _bloom_oracle() -> str:
    build_rows = " UNION ALL ".join(
        f"SELECT {_bf_pos_duck('k', s)} AS pos FROM dim_keys"
        for s in range(_BF_K)
    )
    checks = " AND ".join(
        f"""coalesce((
          SELECT (w.bits & (CAST(1 AS BIGINT) << CAST(({_bf_pos_duck('p.k', s)}) % {_BF_WPB} AS INT))) != 0
          FROM bloom w
          WHERE w.word = ({_bf_pos_duck('p.k', s)}) // {_BF_WPB}
        ), false)"""
        for s in range(_BF_K)
    )
    return f"""
    WITH dim_keys AS (
      SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS k FROM customer
    ),
    positions AS ({build_rows}),
    bloom AS (
      SELECT pos // {_BF_WPB} AS word,
             bit_or(CAST(1 AS BIGINT) << CAST(pos % {_BF_WPB} AS INT)) AS bits
      FROM positions GROUP BY pos // {_BF_WPB}
    ),
    probes AS (
      SELECT DISTINCT CAST(user_id AS VARCHAR) AS k, user_id FROM events
    ),
    tested AS (
      SELECT p.user_id,
             ({checks}) AS bloom_pass,
             EXISTS (SELECT 1 FROM dim_keys d WHERE d.k = p.k) AS is_member
      FROM probes p
    )
    SELECT count(*) AS n_probe_keys,
           CAST(sum(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bloom_pass,
           CAST(sum(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT)
             AS n_members,
           CAST(sum(CASE WHEN bloom_pass AND NOT is_member THEN 1 ELSE 0 END)
             AS BIGINT) AS n_false_pos,
           round(CAST(sum(CASE WHEN bloom_pass AND NOT is_member
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS fp_rate
    FROM tested
    """


@register(
    "bloom_prefilter_audit",
    oracle=_bloom_oracle(),
    description=f"Bloom-filter join prefilter as data: {_BF_K} md5-derived "
    f"hashes into {_BF_BITS} bits stored as ~66 (word, bits) rows via one "
    "grouped bit_or (mergeable across partitions/days by OR-ing words), "
    "broadcast against the distinct probe keys; output audits the "
    "no-false-negative guarantee and the realized false-positive rate. "
    "The pattern that skips the fact-side shuffle for keys the dim can "
    "never match.",
    tags=("sketch", "bloom", "join", "llm-pipeline"),
)
def bloom_prefilter_audit(spark, sf_dir):
    c = T(spark, sf_dir, "customer")
    ev = T(spark, sf_dir, "events")
    dim_keys = c.select(
        F.col("c_custkey").cast("string").alias("k")
    ).distinct()
    positions = dim_keys.select(
        F.explode(
            F.array(
                *[F.expr(_bf_pos_spark("k", s)) for s in range(_BF_K)]
            )
        ).alias("pos")
    )
    bloom = positions.groupBy(
        F.expr(f"pos div {_BF_WPB}").alias("word")
    ).agg(
        F.expr(
            f"bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % {_BF_WPB} AS INT)))"
        ).alias("bits")
    )
    probes = ev.select(
        "user_id", F.col("user_id").cast("string").alias("k")
    ).distinct()
    tested = probes
    for s in range(_BF_K):
        w = bloom.select(
            F.col("word").alias(f"__w{s}"), F.col("bits").alias(f"__bits{s}")
        )
        tested = (
            tested.join(
                F.broadcast(w),
                F.expr(f"({_bf_pos_spark('k', s)}) div {_BF_WPB}")
                == F.col(f"__w{s}"),
                "left",
            )
            .withColumn(
                f"__pass{s}",
                F.coalesce(
                    F.expr(
                        f"(__bits{s} & shiftleft(CAST(1 AS BIGINT), "
                        f"CAST(({_bf_pos_spark('k', s)}) % {_BF_WPB} AS INT))) != 0"
                    ),
                    F.lit(False),
                ),
            )
            .drop(f"__w{s}", f"__bits{s}")
        )
    member = dim_keys.withColumn("__is_member", F.lit(True))
    tested = tested.join(F.broadcast(member), "k", "left").select(
        "user_id",
        (
            F.col("__pass0") & F.col("__pass1") & F.col("__pass2")
        ).alias("bloom_pass"),
        F.coalesce(F.col("__is_member"), F.lit(False)).alias("is_member"),
    )
    n_pass = F.sum(F.when(F.col("bloom_pass"), 1).otherwise(0))
    n_member = F.sum(F.when(F.col("is_member"), 1).otherwise(0))
    n_fp = F.sum(
        F.when(F.col("bloom_pass") & ~F.col("is_member"), 1).otherwise(0)
    )
    return tested.agg(
        F.count("*").alias("n_probe_keys"),
        n_pass.alias("n_bloom_pass"),
        n_member.alias("n_members"),
        n_fp.alias("n_false_pos"),
        F.round(n_fp.cast("double") / F.count("*"), 6).alias("fp_rate"),
    )


# --------------------------------------------------------------------------
# HLL set algebra: union by register max (the merge), intersection by
# inclusion-exclusion — the reason the register file beats exact distinct
# at 100 TB: per-day/per-partition sketches combine WITHOUT re-touching
# the data. Same integer-exact harmonic sums as distinct_count_hll.
# --------------------------------------------------------------------------

_HLL_A = "click"
_HLL_B = "purchase"


def _hll_est_duck(regs: str) -> str:
    """Corrected HLL estimate (double) from a (reg, mrho) relation."""
    return f"""(
      SELECT CASE WHEN e_raw <= 2.5 * {_HLL_M} AND v_present < {_HLL_M}
                  THEN {_HLL_M} * ln(CAST({_HLL_M} AS DOUBLE)
                                     / ({_HLL_M} - v_present))
                  ELSE e_raw END
      FROM (
        SELECT {_HLL_ALPHA} * {_HLL_M} * {_HLL_M}
                 * CAST({1 << 55} AS DOUBLE)
                 / (s_present + (CAST({_HLL_M} AS BIGINT) - v_present)
                                * CAST({1 << 55} AS BIGINT)) AS e_raw,
               v_present
        FROM (
          SELECT sum(CAST(2 AS BIGINT) ** (55 - mrho)) AS s_present,
                 count(*) AS v_present
          FROM {regs}
        )
      )
    )"""


def _hll_merge_oracle() -> str:
    h = hash60_sql_duck("CAST(user_id AS VARCHAR)", seed=7)
    reg = f"({h}) % {_HLL_M}"
    val = f"(({h}) // {_HLL_M}) % {1 << _HLL_VBITS}"
    rho = _rho_case("val")
    return f"""
    WITH hashed AS (
      SELECT DISTINCT event_type, {reg} AS reg, {val} AS val FROM events
      WHERE event_type IN ('{_HLL_A}', '{_HLL_B}')
    ),
    ranked AS (SELECT event_type, reg, {rho} AS rho FROM hashed),
    regs_a AS (
      SELECT reg, max(rho) AS mrho FROM ranked
      WHERE event_type = '{_HLL_A}' GROUP BY reg
    ),
    regs_b AS (
      SELECT reg, max(rho) AS mrho FROM ranked
      WHERE event_type = '{_HLL_B}' GROUP BY reg
    ),
    regs_u AS (
      SELECT reg, max(mrho) AS mrho FROM (
        SELECT reg, mrho FROM regs_a UNION ALL SELECT reg, mrho FROM regs_b
      ) GROUP BY reg
    ),
    ests AS (
      SELECT {_hll_est_duck('regs_a')} AS e_a,
             {_hll_est_duck('regs_b')} AS e_b,
             {_hll_est_duck('regs_u')} AS e_u
    ),
    exact AS (
      SELECT count(DISTINCT CASE WHEN event_type = '{_HLL_A}'
                                 THEN user_id END) AS x_a,
             count(DISTINCT CASE WHEN event_type = '{_HLL_B}'
                                 THEN user_id END) AS x_b,
             count(DISTINCT user_id) AS x_u
      FROM events WHERE event_type IN ('{_HLL_A}', '{_HLL_B}')
    )
    SELECT round(e_a, 4) AS est_a, round(e_b, 4) AS est_b,
           round(e_u, 4) AS est_union,
           round(e_a + e_b - e_u, 4) AS est_intersection,
           x_a AS exact_a, x_b AS exact_b, x_u AS exact_union,
           x_a + x_b - x_u AS exact_intersection
    FROM ests CROSS JOIN exact
    """


def hll_sum_aggs():
    """The register-file reduction of the HLL estimate: integer-exact
    harmonic sum + present-register count. THE single copy (with
    hll_corrected_col) of the estimator arithmetic — the SQL twin is
    _hll_est_duck; every HLL query routes through these so the estimate
    can never fork."""
    return [
        F.sum(
            F.expr("CAST(shiftleft(CAST(1 AS BIGINT), 55 - mrho) AS BIGINT)")
        ).alias("s_present"),
        F.count("*").alias("v_present"),
    ]


def hll_corrected_col():
    """alpha-corrected estimate from (s_present, v_present), with the
    linear-counting small-range branch — identical arithmetic to the
    previous inline copies (expression-level refactor only)."""
    e_raw = (
        F.lit(_HLL_ALPHA)
        * _HLL_M
        * _HLL_M
        * F.lit(float(1 << 55))
        / (
            F.col("s_present")
            + (F.lit(_HLL_M).cast("bigint") - F.col("v_present"))
            * F.lit(1 << 55).cast("bigint")
        )
    )
    return F.when(
        (e_raw <= 2.5 * _HLL_M) & (F.col("v_present") < _HLL_M),
        F.lit(float(_HLL_M))
        * F.log(F.lit(float(_HLL_M)) / (F.lit(_HLL_M) - F.col("v_present"))),
    ).otherwise(e_raw)


def _hll_est_spark(regs, name: str):
    return regs.agg(*hll_sum_aggs()).select(hll_corrected_col().alias(name))


@register(
    "hll_set_algebra",
    oracle=_hll_merge_oracle(),
    description="HLL register-file merge: union cardinality by per-"
    "register max over two sketches (the mergeable-across-partitions/"
    "days operation), intersection by inclusion-exclusion — estimates "
    "vs exact for the click/purchase user sets in one row. The merge "
    "touches 64-row register files, never the data; same integer-exact "
    "harmonic sums as distinct_count_hll.",
    tags=("sketch", "hll", "set-ops", "llm-pipeline"),
)
def hll_set_algebra(spark, sf_dir):
    ev = T(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_HLL_A, _HLL_B)
    )
    regs_a = hll_regs(ev.filter(F.col("event_type") == _HLL_A))
    regs_b = hll_regs(ev.filter(F.col("event_type") == _HLL_B))
    regs_u = (
        regs_a.unionByName(regs_b).groupBy("reg").agg(
            F.max("mrho").alias("mrho")
        )
    )
    e_a = _hll_est_spark(regs_a, "e_a")
    e_b = _hll_est_spark(regs_b, "e_b")
    e_u = _hll_est_spark(regs_u, "e_u")
    exact = ev.agg(
        F.countDistinct(
            F.when(F.col("event_type") == _HLL_A, F.col("user_id"))
        ).alias("x_a"),
        F.countDistinct(
            F.when(F.col("event_type") == _HLL_B, F.col("user_id"))
        ).alias("x_b"),
        F.countDistinct("user_id").alias("x_u"),
    )
    return (
        e_a.crossJoin(e_b)  # scale-ok: 1-row estimate frames
        .crossJoin(e_u)  # scale-ok: 1-row estimate frames
        .crossJoin(exact)  # scale-ok: 1-row exact frame
        .select(
            F.round("e_a", 4).alias("est_a"),
            F.round("e_b", 4).alias("est_b"),
            F.round("e_u", 4).alias("est_union"),
            F.round(
                F.col("e_a") + F.col("e_b") - F.col("e_u"), 4
            ).alias("est_intersection"),
            F.col("x_a").alias("exact_a"),
            F.col("x_b").alias("exact_b"),
            F.col("x_u").alias("exact_union"),
            (F.col("x_a") + F.col("x_b") - F.col("x_u")).alias(
                "exact_intersection"
            ),
        )
    )


# --------------------------------------------------------------------------
# Rolling 7-day distinct users via HLL register merge: the sliding-window
# COUNT(DISTINCT) that exact computation cannot afford at scale (it would
# re-scan 7 days per day). Daily register files are the mergeable state;
# each day's trailing-week estimate is a max-merge of <= 7 daily sketches
# — the union-by-register-max property that makes HLL the right sketch
# for time windows. The day x window expansion is a bounded fan-out join
# (each daily register row lands in <= 7 anchor groups), never a rescan
# of the raw events.
# --------------------------------------------------------------------------


def _rolling_hll_oracle() -> str:
    h = hash60_sql_duck("CAST(user_id AS VARCHAR)", seed=7)
    reg = f"({h}) % {_HLL_M}"
    val = f"(({h}) // {_HLL_M}) % {1 << _HLL_VBITS}"
    rho = _rho_case("val")
    return f"""
    WITH hashed AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day,
             {reg} AS reg, {val} AS val
      FROM events
    ),
    daily AS (
      SELECT day, reg, max({rho}) AS mrho FROM hashed GROUP BY day, reg
    ),
    anchors AS (SELECT DISTINCT day AS aday FROM daily),
    win AS (
      SELECT a.aday, r.reg, max(r.mrho) AS mrho
      FROM anchors a JOIN daily r
        ON r.day <= a.aday AND r.day >= a.aday - INTERVAL 6 DAY
      GROUP BY a.aday, r.reg
    ),
    summed AS (
      SELECT aday,
             sum(CAST(2 AS BIGINT) ** (55 - mrho)) AS s_present,
             count(*) AS v_present
      FROM win GROUP BY aday
    ),
    est AS (
      SELECT aday,
             {_HLL_ALPHA} * {_HLL_M} * {_HLL_M}
               * CAST({1 << 55} AS DOUBLE)
               / (s_present + (CAST({_HLL_M} AS BIGINT) - v_present)
                              * CAST({1 << 55} AS BIGINT)) AS e_raw,
             v_present
      FROM summed
    ),
    corrected AS (
      SELECT aday,
             CASE WHEN e_raw <= 2.5 * {_HLL_M}
                       AND v_present < {_HLL_M}
                  THEN {_HLL_M} * ln(CAST({_HLL_M} AS DOUBLE)
                                     / ({_HLL_M} - v_present))
                  ELSE e_raw END AS e
      FROM est
    ),
    du AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
      FROM events
    ),
    exact AS (
      SELECT a.aday, count(DISTINCT d.user_id) AS exact_distinct_7d
      FROM anchors a JOIN du d
        ON d.day <= a.aday AND d.day >= a.aday - INTERVAL 6 DAY
      GROUP BY a.aday
    )
    SELECT c.aday AS day,
           round(c.e, 4) AS hll_est_7d,
           x.exact_distinct_7d,
           round(abs(c.e - x.exact_distinct_7d) / x.exact_distinct_7d, 4)
             AS rel_err
    FROM corrected c JOIN exact x ON x.aday = c.aday
    """


@register(
    "rolling_distinct_hll_7d",
    oracle=_rolling_hll_oracle(),
    description="Trailing-7-day distinct users per day by HLL register "
    "merge: daily 64-register files (the mergeable state) max-merged "
    "over each day's trailing week via a bounded fan-out join (each "
    "daily register row lands in <= 7 anchor groups — no rescan of raw "
    "events, which is what exact sliding COUNT(DISTINCT) would need), "
    "then the integer-exact harmonic estimate with linear-counting "
    "correction, audited against the exact trailing-week distinct count. "
    "The continuous-aggregate shape for distinct metrics at 100 TB: "
    "store registers per day, merge per window.",
    tags=("sketch", "hll", "distinct", "window", "llm-pipeline"),
)
def rolling_distinct_hll_7d(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").cast("date")
    daily = hll_regs(ev.select(day.alias("day"), "user_id"), "day")
    anchors = daily.select(F.col("day").alias("aday")).distinct()
    win = (
        anchors.join(
            F.broadcast(daily),  # scale-ok: bounded-day anchor x register file
            (F.col("day") <= F.col("aday"))
            & (F.col("day") >= F.date_sub(F.col("aday"), 6)),
        )
        .groupBy("aday", "reg")
        .agg(F.max("mrho").alias("mrho"))
    )
    corrected = (
        win.groupBy("aday")
        .agg(*hll_sum_aggs())
        .select("aday", hll_corrected_col().alias("e"))
    )
    du = ev.select(day.alias("uday"), "user_id").distinct()
    exact = (
        anchors.join(
            du,
            (F.col("uday") <= F.col("aday"))
            & (F.col("uday") >= F.date_sub(F.col("aday"), 6)),
        )
        .groupBy("aday")
        .agg(F.countDistinct("user_id").alias("exact_distinct_7d"))
    )
    return corrected.join(exact, "aday").select(
        F.col("aday").alias("day"),
        F.round("e", 4).alias("hll_est_7d"),
        "exact_distinct_7d",
        F.round(
            F.abs(F.col("e") - F.col("exact_distinct_7d"))
            / F.col("exact_distinct_7d"),
            4,
        ).alias("rel_err"),
    )


# ---------------------------------------------------------------------------
# Join-cardinality estimation by CMS inner product (the AMS sketch family):
# the optimizer statistic, audited against the exact join size.
# ---------------------------------------------------------------------------

_JC_D = 4
_JC_W = 1024
_JC_SEED0 = 110  # seeds 110..113 — disjoint from CMS/minhash/simhash


def _jc_oracle() -> str:
    idx = ", ".join(str(s) for s in range(_JC_D))

    def buckets(col: str) -> str:
        return ", ".join(
            f"{hash60_sql_duck(col, seed=_JC_SEED0 + s)} % {_JC_W}"
            for s in range(_JC_D)
        )

    return f"""
    WITH ek AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events),
    ok AS (SELECT CAST(o_custkey AS VARCHAR) AS k FROM orders),
    se AS (
      SELECT i, bucket, count(*) AS c FROM (
        SELECT unnest([{idx}]) AS i, unnest([{buckets('k')}]) AS bucket
        FROM ek
      ) GROUP BY i, bucket
    ),
    so AS (
      SELECT i, bucket, count(*) AS c FROM (
        SELECT unnest([{idx}]) AS i, unnest([{buckets('k')}]) AS bucket
        FROM ok
      ) GROUP BY i, bucket
    ),
    ex AS (
      SELECT CAST(coalesce(sum(a.c * b.c), 0) AS BIGINT) AS exact_rows
      FROM (SELECT k, count(*) AS c FROM ek GROUP BY k) a
      JOIN (SELECT k, count(*) AS c FROM ok GROUP BY k) b ON b.k = a.k
    ),
    est AS (
      SELECT a.i, CAST(sum(a.c * b.c) AS BIGINT) AS estimate_i
      FROM se a JOIN so b ON b.i = a.i AND b.bucket = a.bucket
      GROUP BY a.i
    )
    SELECT i AS hash_i, estimate_i,
           (SELECT exact_rows FROM ex) AS exact_join_rows,
           CAST(min(estimate_i) OVER () AS BIGINT) AS est_min,
           CAST((1000 * (min(estimate_i) OVER ()
                         - (SELECT exact_rows FROM ex)))
                // greatest((SELECT exact_rows FROM ex), 1) AS BIGINT)
             AS over_permille
    FROM est
    """


@register(
    "join_cardinality_estimate_audit",
    oracle=_jc_oracle(),
    description=f"Join-cardinality estimation by count-min inner product "
    f"(the AMS sketch family): each side of the events-to-orders "
    f"customer-key join is summarized as a {_JC_D}x{_JC_W} md5-seeded "
    "CMS, the per-hash inner products upper-bound the true join size "
    "|JOIN| = sum_k f1(k)*f2(k), and the min over hashes is the "
    "estimate — audited here against the exact size (computed from the "
    "two key histograms, never by materializing the join) with the "
    "signed overestimate in integer per-mille. This is the statistic a "
    "cost-based optimizer keeps: the sketch is d x w integers per "
    "table, mergeable across partitions and maintainable per ingest "
    "batch, so join sizes are priceable at 100 TB without touching "
    "either fact table. Every number is an exact integer cross-engine.",
    tags=("sketch", "cms", "optimizer", "audit"),
)
def join_cardinality_estimate_audit(spark, sf_dir):
    from pyspark.sql import Window

    def side(df, key):
        k = F.col(key).cast("string")
        arr = F.array(
            *[
                F.expr(
                    hash60_sql_spark(
                        f"CAST({key} AS STRING)", seed=_JC_SEED0 + s
                    )
                )
                % _JC_W
                for s in range(_JC_D)
            ]
        )
        rows = df.select(k.alias("k"), F.posexplode(arr).alias("i", "bucket"))
        sk = rows.groupBy("i", "bucket").agg(F.count("*").alias("c"))
        hist = df.groupBy(k.alias("k")).agg(F.count("*").alias("c"))
        return sk, hist

    se, he = side(T(spark, sf_dir, "events"), "user_id")
    so, ho = side(T(spark, sf_dir, "orders"), "o_custkey")
    exact = F.broadcast(
        he.join(ho.withColumnRenamed("c", "c2"), "k")
        .agg(
            F.coalesce(F.sum(F.col("c") * F.col("c2")), F.lit(0))
            .cast("long")
            .alias("exact_join_rows")
        )
    )
    est = (
        se.join(
            so.withColumnRenamed("c", "c2"), ["i", "bucket"]
        )
        .groupBy("i")
        .agg(
            F.sum(F.col("c") * F.col("c2")).cast("long").alias("estimate_i")
        )
    )
    w = Window.partitionBy()  # scale-ok: _JC_D rows total
    return (
        est.crossJoin(exact)  # scale-ok: 1-row broadcast exact size
        .withColumn("est_min", F.min("estimate_i").over(w).cast("long"))
        .select(
            F.col("i").alias("hash_i"),
            "estimate_i",
            "exact_join_rows",
            "est_min",
            F.expr(
                "CAST((1000 * (est_min - exact_join_rows)) div "
                "greatest(exact_join_rows, 1) AS BIGINT)"
            ).alias("over_permille"),
        )
    )


# --------------------------------------------------------------------------
# Bitmap-index distinct rollup: EXACT mergeable COUNT DISTINCT.
# --------------------------------------------------------------------------


def bitmap_word_rows(df, group_col: str, key_col: str, extra: tuple = ()):
    """(grp, w, bits) 63-bit bitmap word file for distinct ``key_col``
    per ``group_col`` — THE single copy of the word-building idiom
    (bitmap_distinct_rollup, the rolling-window query and the
    maintained bitmap state all route through it, so the maintained
    state can never fork from the query path). ``extra``
    names pass-through grouping columns (the batched maintenance path
    labels rows with a batch id and builds every weekly word-file
    increment in one scan); the default path's plan is unchanged."""
    return (
        df.select(
            *extra,
            F.col(group_col).alias("grp"),
            F.expr(f"{key_col} div 63").alias("w"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST({key_col} % 63 AS INT))"
            ).alias("bit"),
        )
        .groupBy(*extra, "grp", "w")
        .agg(F.expr("bit_or(bit)").alias("bits"))
    )


def bitmap_popcount_report(words, group_name: str):
    """Per-group popcounts + the OR-merged ``__all__`` row from a word
    file — the report half shared by the batch rollup and its streaming
    maintenance twin."""
    per = words.groupBy(F.col("grp").alias(group_name)).agg(
        F.expr("CAST(sum(bit_count(bits)) AS BIGINT)").alias("n_users")
    )
    # coalesce: an empty word file still reports __all__ = 0, as the
    # oracle's ungrouped count(DISTINCT) does (sum over no rows is NULL)
    merged = (
        words.groupBy("w")
        .agg(F.expr("bit_or(bits)").alias("bits"))
        .agg(
            F.expr("CAST(coalesce(sum(bit_count(bits)), 0) AS BIGINT)").alias(
                "n_users"
            )
        )
        .select(F.lit("__all__").alias(group_name), "n_users")
    )
    return per.unionByName(merged)


@register(
    "bitmap_distinct_rollup",
    oracle="""
    SELECT event_type, count(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type
    UNION ALL
    SELECT '__all__' AS event_type, count(DISTINCT user_id) AS n_users
    FROM events
    """,
    description="Exact distinct-user counts per event type AND overall "
    "from MERGEABLE 64-bit bitmap words (the roaring-bitmap/warehouse "
    "bitmap-index shape): word = user_id div 63, bit = user_id mod 63, "
    "per-(type, word) bit_or with map-side combine; a type's count is "
    "sum(bit_count(word)), and the overall row is bit_count of the "
    "OR-merge of the per-type words — the operation plain distinct "
    "counts cannot do (summing per-type distincts overcounts; ORing "
    "bitmaps is exact). That mergeability is why warehouses persist "
    "bitmap partials for incremental COUNT DISTINCT maintenance: union "
    "yesterday's word table with today's increment and re-OR. The "
    "oracle is the naive COUNT(DISTINCT) per group + globally; the hash "
    "match proves the bitmap machinery exact. Scale: the word frame is "
    "|user domain|/63 rows per group — dense-bitmap form; sparse IDs "
    "want the roaring run/array containers, same algebra.",
    tags=("sketch", "bitmap", "distinct", "incremental"),
    bench=True,  # promoted r7 s4: the mergeable-exact-distinct flagship
)
def bitmap_distinct_rollup(spark, sf_dir):
    ev = T(spark, sf_dir, "events").select("event_type", "user_id")
    words = bitmap_word_rows(ev, "event_type", "user_id").persist()
    # persist: consumed by the per-type counts AND the OR-merge
    return bitmap_popcount_report(words, "event_type")


# --------------------------------------------------------------------------
# Exact trailing-7-day distinct users via mergeable bitmap words.
#
# rolling_distinct_hll_7d is the approximate form of this metric; its
# exact audit leg joins the raw (day, user) distinct frame to every
# anchor day (a 7x fan-out of USER-level rows). This query makes the
# exact path itself mergeable: per-(day, word) 63-bit bitmap words are
# the persisted daily state (63 users per row, so the window fan-out
# ships ~1/63 the rows), each word row is scattered to the <= 7 anchor
# days whose trailing week it belongs to (sequence+explode — no global
# sort, no per-anchor rescan of raw events), OR-merged per (anchor,
# word), and popcounted. Exactly the TimescaleDB/Druid "store mergeable
# partials per day, merge per window" continuous-aggregate shape, with
# exact set union instead of an estimator.
#
# Scale: shuffle 1 builds the word frame with map-side combine (state
# size = |active user domain|/63 rows per day); shuffle 2 ships each
# word row at most 7 times; the final per-day popcount sum is tiny.
# Sparse user domains want roaring run/array containers — same algebra
# (bitmap_distinct_rollup documents the same caveat).
# --------------------------------------------------------------------------


@register(
    "rolling_exact_distinct_users_7d",
    oracle="""
    WITH act AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
      FROM events
    ),
    days AS (SELECT DISTINCT day FROM act),
    d1 AS (
      SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_1d
      FROM act GROUP BY day
    ),
    d7 AS (
      SELECT d.day, CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users_7d
      FROM days d
      JOIN act a ON a.day <= d.day AND a.day >= d.day - INTERVAL 6 DAY
      GROUP BY d.day
    )
    SELECT d7.day, d1.n_users_1d, d7.n_users_7d
    FROM d7 JOIN d1 USING (day)
    """,
    description="Exact trailing-7-day distinct users per day from "
    "MERGEABLE daily bitmap words (word = user_id div 63, bit = user_id "
    "mod 63): each (day, word) row is scattered to the <= 7 anchor days "
    "whose trailing window contains it, bit_or-merged per (anchor, "
    "word), and popcounted — exact sliding COUNT(DISTINCT) without "
    "re-scanning raw events per window and without the HLL twin's "
    "estimation error (rolling_distinct_hll_7d audits against a naive "
    "exact leg that fans out USER-level rows; the word form ships ~63x "
    "fewer). The oracle is the naive anchor-range join; the hash match "
    "proves the scatter/merge algebra exact. At 100 TB the per-day word "
    "frame is the persisted continuous-aggregate state: an incremental "
    "day appends its words and touches 7 anchor outputs, never history.",
    tags=("sketch", "bitmap", "distinct", "window", "incremental"),
    bench=True,  # promoted r7 s6: the mergeable-exact sliding-window flagship
)
def rolling_exact_distinct_users_7d(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    words = (
        bitmap_word_rows(
            ev.select(
                F.date_trunc("day", "ts").cast("date").alias("day"),
                "user_id",
            ),
            "day",
            "user_id",
        )
        .withColumnRenamed("grp", "day")
        .persist()  # consumed by the 1d counts AND the 7-anchor scatter
    )
    daily = words.groupBy("day").agg(
        F.expr("CAST(sum(bit_count(bits)) AS BIGINT)").alias("n_users_1d")
    )
    anchors = words.select(F.col("day").alias("aday")).distinct()
    rolled = (
        words.select(
            "day", "w", "bits", F.explode(F.expr("sequence(0, 6)")).alias("off")
        )
        .select(F.expr("date_add(day, off)").alias("aday"), "w", "bits")
        # anchor days are the OBSERVED days only (HLL-twin convention);
        # the anchor frame is days-sized, so the semi-join broadcasts
        .join(F.broadcast(anchors), "aday", "left_semi")
        .groupBy("aday", "w")
        .agg(F.expr("bit_or(bits)").alias("bits"))
        .groupBy("aday")
        .agg(F.expr("CAST(sum(bit_count(bits)) AS BIGINT)").alias("n_users_7d"))
    )
    return rolled.join(daily, rolled.aday == daily.day).select(
        F.col("aday").alias("day"), "n_users_1d", "n_users_7d"
    )


# --------------------------------------------------------------------------
# CBO statistics audit: equi-width histogram selectivity estimates vs
# actual row counts — the ANALYZE TABLE / cost-based-optimizer loop.
# --------------------------------------------------------------------------

_CBO_BUCKETS = 16
# price thresholds for `l_extendedprice <= X` probes (TPC-H price domain
# spans ~900..95k; the ends deliberately under/overshoot to exercise the
# clamped fractions)
_CBO_PROBES = (500.0, 5000.0, 15000.0, 30000.0, 50000.0, 75000.0, 120000.0)


def _cbo_oracle() -> str:
    probes = ", ".join(f"({x})" for x in _CBO_PROBES)
    return f"""
    WITH stats AS (
      SELECT min(l_extendedprice) AS mn,
             (max(l_extendedprice) - min(l_extendedprice))
               / {_CBO_BUCKETS} AS width
      FROM lineitem
    ),
    hist AS (
      SELECT least(CAST(floor((l_extendedprice - s.mn) / s.width) AS BIGINT),
                   {_CBO_BUCKETS - 1}) AS b,
             count(*) AS cnt
      FROM lineitem, stats s GROUP BY 1
    ),
    probes AS (
      SELECT CAST(v.x AS DOUBLE) AS x FROM (VALUES {probes}) v(x)
    ),
    est AS (
      SELECT p.x,
             CAST(sum(CAST(round(
               h.cnt * least(CAST(1 AS DOUBLE), greatest(
                 CAST(0 AS DOUBLE),
                 (p.x - (s.mn + h.b * s.width)) / s.width)), 6)
               AS DECIMAL(28,6))) AS DOUBLE) AS est_rows
      FROM probes p, hist h, stats s
      GROUP BY p.x
    ),
    act AS (
      SELECT p.x,
             CAST(coalesce(sum(CASE WHEN l.l_extendedprice <= p.x
                                    THEN 1 END), 0) AS BIGINT) AS actual_rows
      FROM probes p LEFT JOIN lineitem l ON true
      GROUP BY p.x
    )
    SELECT e.x AS price_leq, a.actual_rows, e.est_rows,
           round(abs(e.est_rows - a.actual_rows)
                 / greatest(a.actual_rows, 1), 6) AS rel_err
    FROM est e JOIN act a ON a.x = e.x
    """


@register(
    "cbo_stats_selectivity_audit",
    oracle=_cbo_oracle(),
    description=f"Cost-based-optimizer statistics audit (the ANALYZE "
    f"TABLE ... FOR COLUMNS loop): a {_CBO_BUCKETS}-bucket equi-width "
    "histogram on l_extendedprice — exactly the summary a CBO keeps per "
    "column — answers a fixed `price <= X` probe workload by the "
    "uniform-within-bucket interpolation estimators use, next to the "
    "ACTUAL row counts and the relative error the optimizer would have "
    "eaten. Per-bucket contributions are rounded then summed as exact "
    "decimals so the estimate is partition-order-free in both engines. "
    "Shape: ONE scan builds the histogram (map-side combined, 16 "
    "partial rows), ONE scan answers all probes as conditional "
    "aggregates of a single pass; the probe x histogram interpolation "
    "is a 16x7 broadcast product — statistics work is always "
    "summary-scale, never a second fact scan per predicate. Companion "
    "to join_cardinality_estimate_audit (CMS join-size estimates): "
    "together they cover the two stats a CBO actually consults.",
    tags=("sketch", "statistics", "cbo", "audit", "scale"),
)
def cbo_stats_selectivity_audit(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem").select("l_extendedprice")
    mn, mx = li.agg(
        F.min("l_extendedprice"), F.max("l_extendedprice")
    ).collect()[0]  # scale-ok: 2 scalars (histogram bounds)
    width = (mx - mn) / _CBO_BUCKETS
    hist = (
        li.groupBy(
            F.least(
                F.floor((F.col("l_extendedprice") - mn) / width).cast(
                    "long"
                ),
                F.lit(_CBO_BUCKETS - 1),
            ).alias("b")
        )
        .agg(F.count("*").alias("cnt"))
    )
    probes = spark.createDataFrame(
        [(x,) for x in _CBO_PROBES], "x double"
    )
    est = (
        probes.crossJoin(F.broadcast(hist))
        .select(
            "x",
            F.round(
                F.col("cnt")
                * F.least(
                    F.lit(1.0),
                    F.greatest(
                        F.lit(0.0),
                        (F.col("x") - (F.lit(mn) + F.col("b") * width))
                        / F.lit(width),
                    ),
                ),
                6,
            )
            .cast("decimal(28,6)")
            .alias("contrib"),
        )
        .groupBy("x")
        .agg(F.sum("contrib").cast("double").alias("est_rows"))
    )
    act = li.agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("l_extendedprice") <= x, 1)), F.lit(0)
            )
            .cast("long")
            .alias(f"a{i}")
            for i, x in enumerate(_CBO_PROBES)
        ]
    ).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(x).alias("x"), F.col(f"a{i}").alias("actual_rows")
                    )
                    for i, x in enumerate(_CBO_PROBES)
                ]
            )
        ).alias("s")
    ).select("s.x", "s.actual_rows")
    return (
        est.join(act, "x")
        .select(
            F.col("x").alias("price_leq"),
            "actual_rows",
            "est_rows",
            F.round(
                F.abs(F.col("est_rows") - F.col("actual_rows"))
                / F.greatest(F.col("actual_rows"), F.lit(1)),
                6,
            ).alias("rel_err"),
        )
    )


# --------------------------------------------------------------------------
# Distinct-count CUBE from shared HLL partials: registers computed ONCE at
# base grain, max-merged up the whole grouping-sets lattice in one pass.
# --------------------------------------------------------------------------

_CUBE_HLL_SEED = 11


def _cube_hll_sql(
    hash_expr: str, intdiv: str, pow2_55: str, eq: str
) -> str:
    """Engine-shared GROUPING SETS HLL cube (dialect bits injected):
    ``hash_expr`` the 60-bit md5 hash of the customer key, ``intdiv``
    the integer-division operator, ``pow2_55`` a template for
    2^(55 - mrho) as BIGINT, ``eq`` the null-safe equality operator."""
    rho = _rho_case("val")
    sets = "GROUPING SETS ((nation, month), (nation), (month), ())"
    return f"""
    WITH joined AS (
      SELECT n.n_name AS nation,
             CAST(date_trunc('month', o.o_orderdate) AS DATE) AS month,
             o.o_custkey AS ck,
             {hash_expr} AS h
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
    ),
    base_regs AS (
      SELECT nation, month,
             h % {_HLL_M} AS reg,
             max({rho}) AS mrho
      FROM (SELECT nation, month,
                   (h {intdiv} {_HLL_M}) % {1 << _HLL_VBITS} AS val,
                   h
            FROM joined)
      GROUP BY nation, month, reg
    ),
    lattice AS (
      SELECT nation, month, reg, max(mrho) AS mrho,
             grouping(nation) AS g_nation, grouping(month) AS g_month
      FROM base_regs
      GROUP BY {sets}, reg
    ),
    summed AS (
      SELECT nation, month, g_nation, g_month,
             sum({pow2_55}) AS s_present,
             count(*) AS v_present
      FROM lattice
      GROUP BY nation, month, g_nation, g_month
    ),
    est AS (
      SELECT nation, month, g_nation, g_month,
             {_HLL_ALPHA} * {_HLL_M} * {_HLL_M}
               * CAST({1 << 55} AS DOUBLE)
               / (s_present + (CAST({_HLL_M} AS BIGINT) - v_present)
                              * CAST({1 << 55} AS BIGINT)) AS e_raw,
             v_present
      FROM summed
    ),
    corrected AS (
      SELECT nation, month, g_nation, g_month,
             CASE WHEN e_raw <= 2.5 * {_HLL_M}
                       AND v_present < {_HLL_M}
                  THEN {_HLL_M} * ln(CAST({_HLL_M} AS DOUBLE)
                                     / ({_HLL_M} - v_present))
                  ELSE e_raw END AS e
      FROM corrected_src
    ),
    exact AS (
      SELECT nation, month, count(DISTINCT ck) AS n_exact,
             grouping(nation) AS g_nation, grouping(month) AS g_month
      FROM joined
      GROUP BY {sets}
    )
    SELECT x.nation, x.month,
           CAST(x.g_nation AS INT) AS g_nation,
           CAST(x.g_month AS INT) AS g_month,
           CAST(x.n_exact AS BIGINT) AS n_exact,
           round(c.e, 4) AS hll_est,
           round(abs(c.e - x.n_exact) / x.n_exact, 4) AS rel_err
    FROM exact x
    JOIN corrected c
      ON c.nation {eq} x.nation AND c.month {eq} x.month
     AND c.g_nation = x.g_nation AND c.g_month = x.g_month
    """.replace("corrected_src", "est")


def _cube_hll_oracle() -> str:
    h = hash60_sql_duck("CAST(o.o_custkey AS VARCHAR)", seed=_CUBE_HLL_SEED)
    return _cube_hll_sql(
        hash_expr=h,
        intdiv="//",
        pow2_55="CAST(2 AS BIGINT) ** (55 - mrho)",
        eq="IS NOT DISTINCT FROM",
    )


@register(
    "cube_distinct_hll",
    oracle=_cube_hll_oracle(),
    description="Distinct-customer CUBE over (nation, month) from SHARED "
    "HLL partials: the 64 registers are computed once at base grain "
    "from the fact join, then ONE grouping-sets pass max-merges them up "
    "the whole lattice — cell, both 1-D margins, and the grand total "
    "all read the same register file (what plain COUNT(DISTINCT) cubes "
    "cannot do: every lattice level re-scans the facts; sum-of-counts "
    "double-counts). Per-level estimates carry the exact distinct next "
    "to them with rel_err, the estimator-quality audit at every grain "
    "(grouping() flags disambiguate the NULL margin rows). Scale: the "
    "register file is O(base cells x 64) rows; lattice maintenance is "
    "a max-merge — the same mergeable-partial rollup the warehouse "
    "stores, extended to the full grouping-sets lattice.",
    tags=("sketch", "hll", "distinct", "grouping-sets", "scale"),
)
def cube_distinct_hll(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation")
    o.createOrReplaceTempView("_chll_orders")
    c.createOrReplaceTempView("_chll_customer")
    n.createOrReplaceTempView("_chll_nation")
    h = hash60_sql_spark(
        "CAST(o.o_custkey AS STRING)", seed=_CUBE_HLL_SEED
    )
    sql = _cube_hll_sql(
        hash_expr=h,
        intdiv="div",
        pow2_55="CAST(shiftleft(CAST(1 AS BIGINT), 55 - mrho) AS BIGINT)",
        eq="<=>",
    )
    sql = (
        sql.replace("FROM orders o", "FROM _chll_orders o")
        .replace("JOIN customer c", "JOIN _chll_customer c")
        .replace("JOIN nation n", "JOIN _chll_nation n")
    )
    return spark.sql(sql)


# --------------------------------------------------------------------------
# Mergeable-histogram quantile audit: the approximate-quantile state a
# warehouse can maintain incrementally, priced against the exact order
# statistic.
# --------------------------------------------------------------------------

_HQ_BUCKETS = 64
_HQ_QS = (0.5, 0.9, 0.99)


def _hist_quantile_oracle() -> str:
    qs = ", ".join(f"({q})" for q in _HQ_QS)
    return f"""
    WITH vals AS (SELECT value FROM events WHERE value IS NOT NULL),
    stats AS (
      SELECT min(value) AS mn,
             (max(value) - min(value)) / {_HQ_BUCKETS} AS width,
             count(*) AS n
      FROM vals
    ),
    hist AS (
      SELECT least(CAST(floor((value - s.mn) / s.width) AS BIGINT),
                   {_HQ_BUCKETS - 1}) AS b,
             count(*) AS cnt
      FROM vals, stats s GROUP BY 1
    ),
    cum AS (
      SELECT b, cnt,
             CAST(coalesce(sum(cnt) OVER (ORDER BY b
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_before
      FROM hist
    ),
    probes AS (
      SELECT CAST(v.q AS DOUBLE) AS q FROM (VALUES {qs}) v(q)
    ),
    est AS (
      SELECT p.q,
             min(s.mn + c.b * s.width
                 + s.width * ((p.q * s.n - c.cum_before) / c.cnt))
               AS est_value
      FROM probes p, cum c, stats s
      WHERE p.q * s.n > c.cum_before
        AND p.q * s.n <= c.cum_before + c.cnt
      GROUP BY p.q
    ),
    vgrp AS (
      SELECT value, count(*) AS c FROM vals GROUP BY value
    ),
    vcum AS (
      SELECT value, c,
             CAST(sum(c) OVER (ORDER BY value) AS BIGINT) AS cum
      FROM vgrp
    ),
    exact AS (
      SELECT p.q, min(v.value) AS exact_value
      FROM probes p, stats s, vcum v
      WHERE v.cum >= ceil(p.q * s.n)
      GROUP BY p.q
    )
    SELECT e.q, CAST(s.n AS BIGINT) AS n,
           round(e.est_value, 6) AS est_value,
           x.exact_value,
           round(abs(e.est_value - x.exact_value), 6) AS abs_err
    FROM est e JOIN exact x ON x.q = e.q, stats s
    """


@register(
    "histogram_quantile_audit",
    oracle=_hist_quantile_oracle(),
    description=f"Mergeable-histogram quantile estimation audited "
    f"against the exact order statistic: a {_HQ_BUCKETS}-bucket "
    "equi-width count histogram — state a warehouse maintains "
    "incrementally by adding counts (the mergeable-partial property "
    "t-digest/KLL also trade on) — answers p50/p90/p99 by uniform-"
    "within-bucket interpolation; beside each estimate sits the exact "
    "nearest-rank value (first distinct value whose cumulative count "
    "crosses ceil(q*n)) and the absolute error — the accuracy/state "
    "tradeoff priced per percentile. Shape: ONE scan builds the "
    "histogram (map-side combined, 64 partials), the interpolation is "
    "arithmetic over 64 rows; the exact leg's sort is over DISTINCT "
    "values (exact_quantiles_two_pass's bounded-sort argument). The "
    "tail percentile (p99) is where equi-width histograms hurt — the "
    "audit shows it instead of hiding it.",
    tags=("sketch", "quantile", "histogram", "audit", "scale"),
)
def histogram_quantile_audit(spark, sf_dir):
    from pyspark.sql import Window

    vals = (
        T(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("value")
    )
    mn, mx, n = vals.agg(
        F.min("value"), F.max("value"), F.count("*")
    ).collect()[0]  # scale-ok: 3 scalars (histogram bounds + count)
    width = (mx - mn) / _HQ_BUCKETS
    hist = vals.groupBy(
        F.least(
            F.floor((F.col("value") - mn) / width).cast("long"),
            F.lit(_HQ_BUCKETS - 1),
        ).alias("b")
    ).agg(F.count("*").alias("cnt"))
    wb = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)  # scale-ok: 64 histogram rows
    cum = hist.withColumn(
        "cum_before",
        F.coalesce(F.sum("cnt").over(wb), F.lit(0)).cast("long"),
    )
    probes = spark.createDataFrame([(q,) for q in _HQ_QS], "q double")
    est = (
        probes.crossJoin(F.broadcast(cum))
        .filter(
            (F.col("q") * n > F.col("cum_before"))
            & (F.col("q") * n <= F.col("cum_before") + F.col("cnt"))
        )
        .groupBy("q")
        .agg(
            F.min(
                F.lit(mn)
                + F.col("b") * width
                + F.lit(width)
                * ((F.col("q") * n - F.col("cum_before")) / F.col("cnt"))
            ).alias("est_value")
        )
    )
    vgrp = vals.groupBy("value").agg(F.count("*").alias("c"))
    wv = Window.orderBy("value")  # scale-ok: sort over DISTINCT values (bounded; see description)
    vcum = vgrp.withColumn("cum", F.sum("c").over(wv).cast("long"))
    exact = (
        # scale-ok: 3 probes x the distinct-value frame (bounded, see above)
        probes.crossJoin(vcum)
        .filter(F.col("cum") >= F.ceil(F.col("q") * n))
        .groupBy("q")
        .agg(F.min("value").alias("exact_value"))
    )
    return est.join(exact, "q").select(
        "q",
        F.lit(n).cast("long").alias("n"),
        F.round("est_value", 6).alias("est_value"),
        "exact_value",
        F.round(F.abs(F.col("est_value") - F.col("exact_value")), 6).alias(
            "abs_err"
        ),
    )
