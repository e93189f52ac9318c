"""Round-3 curation additions — operators a large-scale training-data
pipeline runs beyond what the earlier suites cover:

- passage-level dedup with document rewrite (the C4/RefinedWeb shape:
  drop repeated boilerplate passages, keep the first occurrence, rebuild
  the document from what survives);
- asymmetric containment pairs (partial-copy / quote detection that
  symmetric Jaccard misses);
- CUSUM changepoint detection over event series (data-drift localization);
- deterministic +/-1 random projection of embeddings with a JL norm-
  preservation audit (the dimensionality-reduction scale path in front of
  ANN);
- k-core decomposition of the near-dup graph (template farms are dense
  cores, not just high-degree hubs);
- exact grouped quantiles via distinct-value rank selection (the ORACLED
  companion to the rows-only approx_stats_scale_path: same statistic,
  engine-independent exact algorithm).

All six are oracle-checked. Registration order puts them after the
round-3 driver window (rotate into WINDOW_PRIORITY in round 4).

Determinism notes follow the house rules (plans/_util.py, NOTES.md):
decimal-routed sums, md5-derived hashes, integer fixed-point for
iterative state, decimal-routed ROUND for any ratio whose denominator
may be 2^a*5^b.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from datalakes_and_data_integration_spark.functions.hashing import (
    hash60_sql_duck,
    hash60_sql_spark,
)
from datalakes_and_data_integration_spark.functions.text import (
    shingles_expr_spark,
    shingles_sql_duck,
    tokens_sql_duck,
    tokens_sql_spark,
)
from datalakes_and_data_integration_spark.plans._util import T, r6, spread
from datalakes_and_data_integration_spark.plans.registry import register

_TOK_SPARK = tokens_sql_spark("text")
_TOK_DUCK = tokens_sql_duck("text")

# ---------------------------------------------------------------------------
# Passage-level dedup + document rewrite (C4-style). Documents are split
# into fixed non-overlapping token passages; a passage survives only at its
# globally FIRST occurrence (ordered by doc_id, then position); each
# document is rebuilt from its surviving passages in order. Catches
# boilerplate (headers, navbars, license blocks) that document-level
# dedup cannot touch.
#
# Scale: tokenize/split is partition-local; the one shuffle is the window
# over md5(passage) — a hash repartition by digest, never the corpus text
# twice; the rebuild groups by doc_id (second shuffle, bounded by the
# passage table). At 100 TB both shuffles carry (digest, doc_id, idx)
# triples plus passage text once.
# ---------------------------------------------------------------------------

_PASS = 16  # tokens per passage


@register(
    "passage_dedup_rewrite",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_TOK_DUCK} AS toks FROM documents
    ),
    tok2 AS (SELECT doc_id, toks FROM tok WHERE len(toks) > 0),
    passages AS (
      SELECT doc_id, CAST(p AS BIGINT) AS pidx,
             array_to_string(toks[p * {_PASS} + 1 : p * {_PASS} + {_PASS}],
                             ' ') AS ptext
      FROM (
        SELECT doc_id, toks,
               unnest(generate_series(0,
                 CAST(floor((len(toks) - 1) / {_PASS}) AS BIGINT))) AS p
        FROM tok2
      )
    ),
    marked AS (
      SELECT doc_id, pidx, ptext,
             row_number() OVER (PARTITION BY md5(ptext)
                                ORDER BY doc_id, pidx) AS rn
      FROM passages
    )
    SELECT doc_id, count(*) AS n_passages,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           md5(coalesce(
             string_agg(CASE WHEN rn = 1 THEN ptext END, ' ' ORDER BY pidx),
             '')) AS rebuilt_md5
    FROM marked GROUP BY doc_id
    """,
    description=f"C4-style passage dedup with rewrite: {_PASS}-token "
    "non-overlapping passages, global first-occurrence-wins on the passage "
    "digest (ordered by doc_id then position), documents rebuilt from the "
    "surviving passages in order (rebuilt_md5 fingerprints the result; "
    "empty rewrite hashes the empty string). One shuffle on md5(passage), "
    "one bounded doc_id regroup — boilerplate removal document-level dedup "
    "cannot express.",
    tags=("dedup", "curation", "text", "llm-pipeline"),
    bench=True,
)
def passage_dedup_rewrite(spark, sf_dir):
    d = spread(T(spark, sf_dir, "documents"), spark)
    tok = d.select("doc_id", F.expr(_TOK_SPARK).alias("toks")).filter(
        F.size("toks") > 0
    )
    passages = tok.select(
        "doc_id",
        F.explode(
            F.expr(
                f"sequence(0, CAST(floor((size(toks) - 1) / {_PASS}) "
                "AS BIGINT))"
            )
        ).alias("pidx"),
        "toks",
    ).select(
        "doc_id",
        F.col("pidx").cast("long").alias("pidx"),
        F.expr(
            f"concat_ws(' ', slice(toks, pidx * {_PASS} + 1, {_PASS}))"
        ).alias("ptext"),
    )
    w = Window.partitionBy(F.md5("ptext")).orderBy("doc_id", "pidx")
    marked = passages.withColumn("rn", F.row_number().over(w))
    kept_struct = F.when(
        F.col("rn") == 1, F.struct(F.col("pidx"), F.col("ptext"))
    )  # collect_list drops the NULLs (duplicate occurrences)
    return marked.groupBy("doc_id").agg(
        F.count("*").alias("n_passages"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s["ptext"],
                ),
            )
        ).alias("rebuilt_md5"),
    )


# ---------------------------------------------------------------------------
# Asymmetric containment pairs: C(A in B) = |A n B| / |A| over distinct
# word-3-shingle sets. A short document quoted wholesale inside a long one
# has near-1 containment but tiny Jaccard — the partial-copy signal the
# symmetric join (dedup_ngram_jaccard_join) is blind to. Same inverted-
# index shape (explode shingles, self-join on shingle, count shared), so
# the candidate set — not the corpus — is what shuffles.
# ---------------------------------------------------------------------------

_CONT_MIN = 0.5


def _containment_oracle() -> str:
    shing = shingles_sql_duck("toks", 3)
    return f"""
    WITH tok AS (SELECT doc_id, {_TOK_DUCK} AS toks FROM documents),
    shingled AS (SELECT doc_id, {shing} AS sh FROM tok WHERE len({shing}) > 0),
    sizes AS (SELECT doc_id, len(sh) AS sz FROM shingled),
    inverted AS (SELECT doc_id, unnest(sh) AS g FROM shingled),
    pair_common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      FROM inverted a JOIN inverted b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT p.doc_a, p.doc_b,
           CAST(p.common AS DOUBLE) / sa.sz AS cont_a_in_b,
           CAST(p.common AS DOUBLE) / sb.sz AS cont_b_in_a,
           CAST(p.common AS DOUBLE) / (sa.sz + sb.sz - p.common) AS jaccard
    FROM pair_common p
    JOIN sizes sa ON sa.doc_id = p.doc_a
    JOIN sizes sb ON sb.doc_id = p.doc_b
    WHERE greatest(CAST(p.common AS DOUBLE) / sa.sz,
                   CAST(p.common AS DOUBLE) / sb.sz) >= {_CONT_MIN}
    """


@register(
    "dedup_containment_pairs",
    oracle=_containment_oracle(),
    description="Asymmetric shingle containment |A n B|/|A| (both "
    f"directions) over word 3-shingles, pairs where either side >= "
    f"{_CONT_MIN} — partial-copy / quotation detection: a short doc "
    "embedded in a long one scores ~1 here while its Jaccard stays below "
    "any dedup threshold. Inverted-index self-join, candidates-only "
    "shuffle, exact integer counts.",
    tags=("dedup", "containment", "llm-pipeline"),
    bench=True,  # promoted round 5: green driver row in CORRECTNESS_r04
)
def dedup_containment_pairs(spark, sf_dir, shingled=None):
    # ``shingled`` (doc_id, sh = word-3-shingle array, empty docs
    # filtered, caller-persisted) lets compositions that run several
    # dedup tiers share ONE tokenize/shingle pass (the
    # dedup_tier_overlap_report materialized-shingle-frame shape,
    # VERDICT r6 #4) — identical frame to the default path, so results
    # and the oracle are unchanged.
    if shingled is None:
        d = T(spark, sf_dir, "documents")
        tok_df = spread(
            d.select("doc_id", F.expr(_TOK_SPARK).alias("toks")), spark
        )
        shing = shingles_expr_spark("toks", 3)
        shingled = (
            tok_df.select("doc_id", F.expr(shing).alias("sh"))
            .filter(F.size("sh") > 0)
            .persist()  # consumed 3x: sizes twice + inverted
        )
    sizes = shingled.select("doc_id", F.size("sh").alias("sz"))
    inverted = shingled.select("doc_id", F.explode("sh").alias("g"))
    a, b = inverted.alias("a"), inverted.alias("b")
    pair_common = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("szb"))
    c = F.col("common").cast("double")
    joined = pair_common.join(sa, "doc_a").join(sb, "doc_b")
    return joined.select(
        "doc_a",
        "doc_b",
        (c / F.col("sza")).alias("cont_a_in_b"),
        (c / F.col("szb")).alias("cont_b_in_a"),
        (c / (F.col("sza") + F.col("szb") - F.col("common"))).alias("jaccard"),
    ).filter(
        F.greatest(F.col("cont_a_in_b"), F.col("cont_b_in_a")) >= _CONT_MIN
    )


# ---------------------------------------------------------------------------
# CUSUM changepoint detection per event type. Hourly level series h_t;
# the classic CUSUM statistic S_t = sum_{s<=t}(h_s - mean) peaks at the
# level-shift point. Computed in INTEGER fixed point with the mean
# multiplied through (stat_t = n*cum_t - t*total, values scaled 1e6), so
# every operation is int64 arithmetic and both engines agree exactly.
#
# Scale: one hourly pre-aggregate (map-side combined), then two windows
# partitioned by event_type over the tiny hourly series. Bounded state.
# ---------------------------------------------------------------------------


@register(
    "cusum_changepoint",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS h
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type, date_trunc('hour', ts)
    ),
    cum AS (
      SELECT event_type, hour, h,
             CAST(sum(h) OVER (PARTITION BY event_type ORDER BY hour)
                  AS BIGINT) AS cum_h,
             CAST(row_number() OVER (PARTITION BY event_type ORDER BY hour)
                  AS BIGINT) AS t,
             CAST(sum(h) OVER (PARTITION BY event_type) AS BIGINT) AS total,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM hourly
    ),
    stat AS (
      SELECT event_type, hour, n,
             n * cum_h - t * total AS cusum_fixed
      FROM cum
    ),
    ranked AS (
      SELECT event_type, hour, n, cusum_fixed,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY abs(cusum_fixed) DESC, hour) AS rk
      FROM stat
    )
    SELECT event_type, n AS n_hours, hour AS changepoint_hour, cusum_fixed,
           CASE WHEN cusum_fixed >= 0 THEN 'up' ELSE 'down' END AS shift_dir,
           CAST(ROUND(CAST(CAST(cusum_fixed AS DOUBLE)
                           / (CAST(n AS DOUBLE) * 1000000.0)
                           AS DECIMAL(27,6)), 2) AS DOUBLE) AS cusum_value
    FROM ranked WHERE rk = 1
    """,
    description="CUSUM changepoint per event type: hourly value totals, "
    "cumulative deviation from the per-type mean, argmax |CUSUM| = the "
    "level-shift hour (ties to the earliest hour). Mean multiplied "
    "through (stat = n*cum - t*total, values scaled 1e6) so the whole "
    "statistic is exact int64 arithmetic in both engines; the display "
    "value is decimal-routed. One hourly pre-aggregate + two per-type "
    "windows over the small hourly series.",
    tags=("timeseries", "drift", "changepoint", "llm-pipeline"),
    bench=True,  # promoted round 5: green driver row in CORRECTNESS_r04
)
def cusum_changepoint(spark, sf_dir):
    ev = T(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        (F.sum(F.col("value").cast("decimal(18,6)")) * 1000000)
        .cast("long")
        .alias("h")
    )
    return cusum_stat(hourly)


def cusum_stat(hourly):
    """CUSUM argmax over an (event_type, hour, h) fixed-point hourly
    series — shared by the batch query below and the streaming-fed twin
    (plans/streaming_extra.streaming_cusum_changepoint)."""
    wo = Window.partitionBy("event_type").orderBy("hour")
    wa = Window.partitionBy("event_type")
    cum = hourly.select(
        "event_type",
        "hour",
        F.sum("h").over(wo).cast("long").alias("cum_h"),
        F.row_number().over(wo).cast("long").alias("t"),
        F.sum("h").over(wa).cast("long").alias("total"),
        F.count("*").over(wa).cast("long").alias("n"),
    )
    stat = cum.select(
        "event_type",
        "hour",
        "n",
        (F.col("n") * F.col("cum_h") - F.col("t") * F.col("total")).alias(
            "cusum_fixed"
        ),
    )
    rk = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("cusum_fixed")).desc(), F.col("hour")
    )
    return (
        stat.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("n").alias("n_hours"),
            F.col("hour").alias("changepoint_hour"),
            "cusum_fixed",
            F.when(F.col("cusum_fixed") >= 0, "up")
            .otherwise("down")
            .alias("shift_dir"),
            F.round(
                (
                    F.col("cusum_fixed").cast("double")
                    / (F.col("n").cast("double") * F.lit(1000000.0))
                ).cast("decimal(27,6)"),
                2,
            )
            .cast("double")
            .alias("cusum_value"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic +/-1 random projection (Achlioptas 2001) of the 64-dim
# embeddings down to 16 dims, with the Johnson-Lindenstrauss norm-
# preservation audit: E[|Px|^2] = k*|x|^2 for +/-1 entries, so
# jl_ratio = |Px|^2 / (k*|x|^2) should concentrate around 1. Projection
# signs are md5-derived from (dim, proj) — reproducible on any engine,
# machine, or run, the only sane way to project 100 TB consistently.
#
# Scale: posexplode is a narrow map (64*16 terms per vector); the one
# shuffle is the (vec_id, j) grouped decimal sum with map-side combine.
# The projected vectors are what the ANN suite would index at 4x less
# memory; this query ships the audit evidence for that decision.
# ---------------------------------------------------------------------------

_RP_K = 16
_RP_SEED = 101


def _rp_oracle() -> str:
    sign_h = hash60_sql_duck("concat(i, '|', j)", seed=_RP_SEED)
    return f"""
    WITH elems AS (
      SELECT vec_id, label, d.i AS i,
             CAST(embedding[d.i + 1] AS DOUBLE) AS x
      FROM embeddings, (SELECT unnest(range(64)) AS i) d
    ),
    terms AS (
      SELECT vec_id, label, j.j AS j,
             CAST(x * (CASE WHEN ({sign_h}) % 2 = 0
                            THEN 1.0 ELSE -1.0 END)
                  AS DECIMAL(25,12)) AS term
      FROM elems, (SELECT unnest(range({_RP_K})) AS j) j
    ),
    pj AS (
      SELECT vec_id, label, j, CAST(sum(term) AS DOUBLE) AS pj
      FROM terms GROUP BY vec_id, label, j
    ),
    orig AS (
      SELECT vec_id, sum(CAST(x * x AS DECIMAL(25,12))) AS orig_sq
      FROM elems GROUP BY vec_id
    ),
    proj AS (
      SELECT vec_id, label, sum(CAST(pj * pj AS DECIMAL(25,12))) AS proj_sq
      FROM pj GROUP BY vec_id, label
    )
    SELECT o.vec_id, p.label,
           CAST(ROUND(o.orig_sq, 6) AS DOUBLE) AS orig_sq_norm,
           CAST(ROUND(p.proj_sq, 6) AS DOUBLE) AS proj_sq_norm,
           CAST(ROUND(CAST(CAST(p.proj_sq AS DOUBLE)
                           / ({_RP_K} * CAST(o.orig_sq AS DOUBLE))
                           AS DECIMAL(27,12)), 6) AS DOUBLE) AS jl_ratio
    FROM orig o JOIN proj p USING (vec_id)
    """


@register(
    "embedding_random_projection",
    oracle=_rp_oracle(),
    description=f"Deterministic +/-1 random projection 64 -> {_RP_K} dims "
    "(Achlioptas-style, signs md5-derived from (dim, proj) so every "
    "engine and run agrees) with the JL audit: per-vector original and "
    "projected squared norms (decimal-exact sums) and the ratio "
    f"|Px|^2/({_RP_K}|x|^2) that should concentrate near 1. The "
    "dimensionality-reduction scale path in front of ANN indexing; one "
    "narrow posexplode map + one grouped decimal sum.",
    tags=("similarity", "embedding", "projection", "llm-pipeline"),
)
def embedding_random_projection(spark, sf_dir):
    e = spread(T(spark, sf_dir, "embeddings"), spark)
    elems = e.select(
        "vec_id", "label", F.posexplode("embedding").alias("i", "x")
    ).select("vec_id", "label", "i", F.col("x").cast("double").alias("x"))
    elems = elems.persist()  # consumed 2x: terms + orig norms
    sign_h = hash60_sql_spark("concat(i, '|', j)", seed=_RP_SEED)
    terms = elems.select(
        "vec_id",
        "label",
        "x",
        "i",
        F.explode(F.expr(f"sequence(0, {_RP_K - 1})")).alias("j"),
    ).select(
        "vec_id",
        "label",
        "j",
        (
            F.col("x")
            * F.when(F.expr(sign_h) % 2 == 0, F.lit(1.0)).otherwise(
                F.lit(-1.0)
            )
        )
        .cast("decimal(25,12)")
        .alias("term"),
    )
    pj = terms.groupBy("vec_id", "label", "j").agg(
        F.sum("term").cast("double").alias("pj")
    )
    orig = elems.groupBy("vec_id").agg(
        F.sum((F.col("x") * F.col("x")).cast("decimal(25,12)")).alias(
            "orig_sq"
        )
    )
    proj = pj.groupBy("vec_id", "label").agg(
        F.sum((F.col("pj") * F.col("pj")).cast("decimal(25,12)")).alias(
            "proj_sq"
        )
    )
    return orig.join(proj, "vec_id").select(
        "vec_id",
        "label",
        F.round(F.col("orig_sq"), 6).cast("double").alias("orig_sq_norm"),
        F.round(F.col("proj_sq"), 6).cast("double").alias("proj_sq_norm"),
        r6(
            F.col("proj_sq").cast("double")
            / (F.lit(_RP_K) * F.col("orig_sq").cast("double"))
        ).alias("jl_ratio"),
    )


# ---------------------------------------------------------------------------
# k-core decomposition (k=2) of the simhash near-dup graph: iteratively
# peel nodes of degree < k. PageRank (pagerank_dup_hubs) finds HUBS;
# the 2-core finds DENSE NEIGHBORHOODS — template farms survive peeling,
# docs with one accidental near-dup edge do not. Pure integer degree
# arithmetic, so the unrolled-CTE oracle matches exactly round by round.
#
# Scale: each round is a grouped degree count + two semi-joins over the
# CURRENT edge set only (the peel shrinks it monotonically); rounds are
# bounded (peeling converges in <= diameter rounds; the fixed budget is
# asserted at build scales by tests). Lineage is truncated per round
# (localCheckpoint) per the NOTES.md iterative-loop hazard.
# ---------------------------------------------------------------------------

_KCORE_K = 2
_KCORE_ROUNDS = 6


def _kcore_oracle() -> str:
    from datalakes_and_data_integration_spark.plans.dedup import (
        _simhash_pairs_oracle,
    )

    steps = []
    prev = "edges0"
    for r in range(1, _KCORE_ROUNDS + 1):
        # AS MATERIALIZED: each round references the previous edge set
        # three times (degree count + both endpoint joins) — left to the
        # inliner that nests to 3^rounds re-evaluations of the simhash
        # pair join (measured: minutes at sf0.01; materialized: ms).
        steps.append(
            f"""
    n{r} AS MATERIALIZED (
      SELECT src FROM {prev} GROUP BY src
      HAVING count(*) >= {_KCORE_K}
    ),
    e{r} AS MATERIALIZED (
      SELECT e.src, e.dst FROM {prev} e
      JOIN n{r} a ON a.src = e.src
      JOIN n{r} b ON b.src = e.dst
    )"""
        )
        prev = f"e{r}"
    return f"""
    WITH pairs AS MATERIALIZED ({_simhash_pairs_oracle()}),
    edges0 AS MATERIALIZED (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),{",".join(steps)}
    SELECT d.doc_id,
           CAST(coalesce(deg.deg, 0) AS BIGINT) AS core_degree,
           coalesce(deg.deg, 0) >= {_KCORE_K} AS in_2core
    FROM documents d
    LEFT JOIN (
      SELECT src, count(*) AS deg FROM {prev} GROUP BY src
    ) deg ON deg.src = d.doc_id
    """


@register(
    "kcore_dup_graph",
    oracle=_kcore_oracle(),
    description=f"{_KCORE_K}-core of the simhash near-dup graph via "
    f"{_KCORE_ROUNDS} peel rounds (remove degree<{_KCORE_K} nodes, "
    "restrict edges, repeat — fixpoint reached well inside the budget at "
    "both build scales): every document with its post-peel core degree "
    "and 2-core membership. Dense duplication neighborhoods (template "
    "farms) survive peeling where one-off near-dup edges do not — the "
    "complement of PageRank's hub signal. Integer degrees, exact "
    "unrolled-CTE oracle; each round shuffles only the shrinking edge "
    "set.",
    tags=("graph", "dedup", "kcore", "llm-pipeline"),
)
def kcore_dup_graph(spark, sf_dir):
    from datalakes_and_data_integration_spark.plans.dedup import (
        dedup_simhash_pairs,
    )

    pairs = dedup_simhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        .localCheckpoint()  # computed once; rounds below reference it 3x
    )
    for _ in range(_KCORE_ROUNDS):
        keep = (
            edges.groupBy("src")
            .agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= _KCORE_K)
            .select("src")
        )
        edges = (
            edges.join(keep, "src", "left_semi")
            .join(
                keep.withColumnRenamed("src", "dst"), "dst", "left_semi"
            )
            # eager materialization per round: `edges` is referenced by the
            # degree count AND both semi-joins next round — without lineage
            # truncation the plan tree grows multiplicatively (NOTES.md).
            .localCheckpoint()
        )
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    docs = T(spark, sf_dir, "documents").select("doc_id")
    return docs.join(
        deg.withColumnRenamed("src", "doc_id"), "doc_id", "left_outer"
    ).select(
        "doc_id",
        F.coalesce("deg", F.lit(0)).cast("long").alias("core_degree"),
        (F.coalesce("deg", F.lit(0)) >= _KCORE_K).alias("in_2core"),
    )


# ---------------------------------------------------------------------------
# Exact grouped quantiles by distinct-value rank selection — the ORACLED
# companion to approx_stats_scale_path (whose t-digest/HLL outputs are
# engine-specific and therefore rows-only). Same statistic, exact:
# group to (type, value, count), cumulative ranks over DISTINCT values
# (the per-type sort is bounded by value cardinality, not row count),
# locate the two order statistics around rank q*(n-1), interpolate
# linearly — the quantile_cont definition, computed identically in both
# engines step by step.
#
# Scale: pass 1 is a map-side-combined (type, value) count; the window
# sorts distinct values per type. For a continuous 100 TB domain where
# distinct ~ rows, refine in two passes instead: a coarse fixed-bucket
# histogram locates the target bucket, then only that bucket's values are
# sorted — same output, bounded memory either way.
# ---------------------------------------------------------------------------


@register(
    "exact_quantiles_two_pass",
    oracle="""
    WITH grp AS (
      SELECT event_type, value, count(*) AS c
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type, value
    ),
    win AS (
      SELECT event_type, value, c,
             CAST(sum(c) OVER (PARTITION BY event_type ORDER BY value)
                  AS BIGINT) AS cum
      FROM grp
    ),
    n AS (
      SELECT event_type, CAST(sum(c) AS BIGINT) AS n
      FROM grp GROUP BY event_type
    ),
    tgt AS (
      SELECT n.event_type, q.q, n.n,
             CAST(floor(q.q * (n.n - 1)) AS BIGINT) AS lo,
             q.q * (n.n - 1) - floor(q.q * (n.n - 1)) AS frac
      FROM n CROSS JOIN
        (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE)]) AS q) q
    ),
    vlo AS (
      SELECT t.event_type, t.q, t.n, t.frac, t.lo, w.value AS v_lo
      FROM tgt t JOIN win w
        ON w.event_type = t.event_type
       AND t.lo BETWEEN w.cum - w.c AND w.cum - 1
    ),
    vhi AS (
      SELECT t.event_type, t.q, w.value AS v_hi
      FROM tgt t JOIN win w
        ON w.event_type = t.event_type
       AND least(t.lo + 1, t.n - 1) BETWEEN w.cum - w.c AND w.cum - 1
    )
    SELECT l.event_type, l.q, l.n,
           l.v_lo + l.frac * (h.v_hi - l.v_lo) AS exact_quantile
    FROM vlo l JOIN vhi h ON h.event_type = l.event_type AND h.q = l.q
    """,
    description="Exact per-type quantiles (p50/p90) by distributed "
    "rank selection: (type, value) counts, cumulative ranks over DISTINCT "
    "values, locate the order statistics around q*(n-1), linear "
    "interpolation (the quantile_cont definition, identical arithmetic "
    "both engines). The oracled exact companion to the rows-only "
    "approx_stats_scale_path: the sort is over distinct values per type; "
    "on a continuous 100 TB domain the same answer comes from a coarse-"
    "histogram first pass + exact sort of one bucket.",
    tags=("aggregate", "quantile", "scale", "llm-pipeline"),
)
def exact_quantiles_two_pass(spark, sf_dir):
    ev = T(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    grp = ev.groupBy("event_type", "value").agg(F.count("*").alias("c"))
    grp = grp.persist()  # consumed 2x: window ranks + per-type totals
    wo = Window.partitionBy("event_type").orderBy("value")
    win = grp.select(
        "event_type",
        "value",
        "c",
        F.sum("c").over(wo).cast("long").alias("cum"),
    )
    n = grp.groupBy("event_type").agg(F.sum("c").cast("long").alias("n"))
    qs = F.explode(F.array(F.lit(0.5), F.lit(0.9))).alias("q")
    tgt = n.select("event_type", "n", qs).select(
        "event_type",
        "q",
        "n",
        F.floor(F.col("q") * (F.col("n") - 1)).cast("long").alias("lo"),
        (
            F.col("q") * (F.col("n") - 1)
            - F.floor(F.col("q") * (F.col("n") - 1))
        ).alias("frac"),
    )
    w = win.alias("w")
    t = tgt.alias("t")
    vlo = t.join(
        w,
        (F.col("w.event_type") == F.col("t.event_type"))
        & (F.col("t.lo") >= F.col("w.cum") - F.col("w.c"))
        & (F.col("t.lo") <= F.col("w.cum") - 1),
    ).select(
        F.col("t.event_type").alias("event_type"),
        F.col("t.q").alias("q"),
        F.col("t.n").alias("n"),
        F.col("t.frac").alias("frac"),
        F.col("w.value").alias("v_lo"),
    )
    hi_rank = F.least(F.col("t.lo") + 1, F.col("t.n") - 1)
    vhi = t.join(
        w,
        (F.col("w.event_type") == F.col("t.event_type"))
        & (hi_rank >= F.col("w.cum") - F.col("w.c"))
        & (hi_rank <= F.col("w.cum") - 1),
    ).select(
        F.col("t.event_type").alias("event_type"),
        F.col("t.q").alias("q"),
        F.col("w.value").alias("v_hi"),
    )
    return vlo.join(vhi, ["event_type", "q"]).select(
        "event_type",
        "q",
        "n",
        (
            F.col("v_lo") + F.col("frac") * (F.col("v_hi") - F.col("v_lo"))
        ).alias("exact_quantile"),
    )


# ---------------------------------------------------------------------------
# Eval-set quota apportionment: allocate a fixed evaluation budget of
# N_EVAL docs across (source, lang) cells proportionally by largest
# remainder (Hamilton's method) — quotas sum to EXACTLY N_EVAL, every
# step is integer arithmetic, ties break on cell id. The standard way a
# training pipeline sizes per-domain eval splits without fractional or
# drifting counts.
#
# Scale: the cell table is dim-sized (|sources| x |langs|); the one scan
# is the grouped count. The ranking window is over cells, not rows.
# ---------------------------------------------------------------------------

_N_EVAL = 1000


@register(
    "quota_sample_apportionment",
    oracle=f"""
    WITH cells AS (
      SELECT source, lang, count(*) AS n_docs
      FROM documents GROUP BY source, lang
    ),
    tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total FROM cells),
    base AS (
      SELECT c.source, c.lang, c.n_docs,
             ({_N_EVAL} * c.n_docs) // t.total AS base_q,
             ({_N_EVAL} * c.n_docs) % t.total AS rem
      FROM cells c CROSS JOIN tot t
    ),
    lo AS (
      SELECT CAST({_N_EVAL} - sum(base_q) AS BIGINT) AS leftover FROM base
    ),
    ranked AS (
      SELECT source, lang, n_docs, base_q, rem,
             row_number() OVER (ORDER BY rem DESC, source, lang) AS rk
      FROM base
    )
    SELECT r.source, r.lang, r.n_docs,
           CAST(r.base_q + CASE WHEN r.rk <= l.leftover THEN 1 ELSE 0 END
                AS BIGINT) AS quota,
           CAST(r.rem AS BIGINT) AS remainder_num,
           r.rk AS remainder_rank
    FROM ranked r CROSS JOIN lo l
    """,
    description=f"Largest-remainder (Hamilton) apportionment of a "
    f"{_N_EVAL}-doc eval budget across (source, lang) cells: integer base "
    "quotas N*n//total, leftover seats to the largest remainders "
    "(remainder ties break on cell id), so quotas sum to exactly the "
    "budget. All-integer arithmetic; the window ranks the dim-sized cell "
    "table, never rows.",
    tags=("sampling", "curation", "apportionment", "llm-pipeline"),
)
def quota_sample_apportionment(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    cells = d.groupBy("source", "lang").agg(F.count("*").alias("n_docs"))
    tot = cells.agg(F.sum("n_docs").cast("long").alias("total"))
    base = cells.crossJoin(F.broadcast(tot)).select(
        "source",
        "lang",
        "n_docs",
        F.expr(f"({_N_EVAL} * n_docs) div total").alias("base_q"),
        (F.lit(_N_EVAL) * F.col("n_docs") % F.col("total")).alias("rem"),
    )
    lo = base.agg(
        (F.lit(_N_EVAL) - F.sum("base_q")).cast("long").alias("leftover")
    )
    # scale-ok: window over the dim-sized (source x lang) cell table
    wr = Window.orderBy(F.col("rem").desc(), F.col("source"), F.col("lang"))
    ranked = base.withColumn("rk", F.row_number().over(wr))
    return ranked.crossJoin(F.broadcast(lo)).select(
        "source",
        "lang",
        "n_docs",
        (
            F.col("base_q")
            + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("long")
        .alias("quota"),
        F.col("rem").cast("long").alias("remainder_num"),
        F.col("rk").alias("remainder_rank"),
    )


# ---------------------------------------------------------------------------
# Robust scaling stats: per-type exact median and MAD (median absolute
# deviation) by the same distinct-value rank selection as
# exact_quantiles_two_pass, plus the robust outlier count
# (|x - med| > 3 * 1.4826 * MAD — the normal-consistent robust z-score).
# The outlier-filtering twin of the mean/stddev-based rolling_zscore:
# heavy-tailed event values move the mean but not the median.
#
# q = 0.5 makes the interpolation exact (frac is 0 or exactly 0.5), so
# both medians are bit-identical across engines by construction.
# ---------------------------------------------------------------------------


def _med_cte_duck(src: str, p: str) -> str:
    """CTE block computing the per-type exact median of ``{src}(event_type,
    v)`` into ``{p}med(event_type, n, med)`` — identical arithmetic to the
    Spark helper below."""
    return f"""
    {p}grp AS (
      SELECT event_type, v, count(*) AS c FROM {src} GROUP BY event_type, v
    ),
    {p}win AS (
      SELECT event_type, v, c,
             CAST(sum(c) OVER (PARTITION BY event_type ORDER BY v)
                  AS BIGINT) AS cum
      FROM {p}grp
    ),
    {p}n AS (
      SELECT event_type, CAST(sum(c) AS BIGINT) AS n
      FROM {p}grp GROUP BY event_type
    ),
    {p}tgt AS (
      SELECT event_type, n,
             CAST(floor(0.5 * (n - 1)) AS BIGINT) AS lo,
             0.5 * (n - 1) - floor(0.5 * (n - 1)) AS frac
      FROM {p}n
    ),
    {p}vlo AS (
      SELECT t.event_type, t.n, t.frac, t.lo, w.v AS v_lo
      FROM {p}tgt t JOIN {p}win w
        ON w.event_type = t.event_type
       AND t.lo BETWEEN w.cum - w.c AND w.cum - 1
    ),
    {p}vhi AS (
      SELECT t.event_type, w.v AS v_hi
      FROM {p}tgt t JOIN {p}win w
        ON w.event_type = t.event_type
       AND least(t.lo + 1, t.n - 1) BETWEEN w.cum - w.c AND w.cum - 1
    ),
    {p}med AS (
      SELECT l.event_type, l.n,
             l.v_lo + l.frac * (h.v_hi - l.v_lo) AS med
      FROM {p}vlo l JOIN {p}vhi h ON h.event_type = l.event_type
    )"""


def _grouped_median(df):
    """Per-type exact median of df(event_type, v) -> (event_type, n, med);
    the Spark twin of _med_cte_duck (distinct-value rank selection).

    r09 optimization round: the round-9 shape (persisted grp + n rollup
    + one-row-per-type broadcast into TWO rank-window joins) ran ~6
    jobs per median call — 21 jobs / 50 stages for the whole MAD query.
    The rank selection needs no join at all: n rides the same per-type
    window partition as the cumulative count (an unbounded frame next
    to the ordered frame, one exchange), and v_lo / v_hi are
    conditional MAXes over the rank predicate — exactly one distinct-v
    row matches each, so the aggregate IS the join. Same arithmetic on
    the same inputs (lo/frac from the identical half expression, med =
    v_lo + frac * (v_hi - v_lo)), so the value is bit-identical to the
    oracle's join form; only the job count changes (2 exchanges, 0
    broadcasts per median). At 100 TB the exchanges still carry only
    distinct (type, v, c) rows — the partial-aggregation shape is
    unchanged."""
    grp = df.groupBy("event_type", "v").agg(F.count("*").alias("c"))
    wo = Window.partitionBy("event_type").orderBy("v")
    wall = Window.partitionBy("event_type")
    win = grp.select(
        "event_type",
        "v",
        "c",
        F.sum("c").over(wo).cast("long").alias("cum"),
        F.sum("c").over(wall).cast("long").alias("n"),
    )
    half = F.lit(0.5) * (F.col("n") - 1)
    lo = F.floor(half).cast("long")
    hi = F.least(lo + 1, F.col("n") - 1)
    lo_match = (lo >= F.col("cum") - F.col("c")) & (lo <= F.col("cum") - 1)
    hi_match = (hi >= F.col("cum") - F.col("c")) & (hi <= F.col("cum") - 1)
    sel = win.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.max(F.when(lo_match, F.col("v"))).alias("v_lo"),
        F.max(F.when(hi_match, F.col("v"))).alias("v_hi"),
        F.max(F.when(lo_match, half - F.floor(half))).alias("frac"),
    )
    return sel.select(
        "event_type",
        "n",
        (F.col("v_lo") + F.col("frac") * (F.col("v_hi") - F.col("v_lo"))).alias(
            "med"
        ),
    )


@register(
    "robust_scaling_mad",
    oracle=f"""
    WITH vals AS (
      SELECT event_type, value AS v FROM events WHERE value IS NOT NULL
    ),{_med_cte_duck("vals", "a")},
    devs AS (
      SELECT v.event_type, abs(v.v - m.med) AS v
      FROM vals v JOIN amed m ON m.event_type = v.event_type
    ),{_med_cte_duck("devs", "b")}
    SELECT a.event_type, a.n, a.med,
           b.med AS mad,
           CAST((
             SELECT count(*) FROM vals x
             WHERE x.event_type = a.event_type
               AND abs(x.v - a.med) > 3 * 1.4826 * b.med
           ) AS BIGINT) AS n_outliers
    FROM amed a JOIN bmed b ON b.event_type = a.event_type
    """,
    description="Robust per-type scaling stats: exact median, exact MAD "
    "(median of absolute deviations, distinct-value rank selection twice), "
    "and the count of robust outliers |x - med| > 3 * 1.4826 * MAD. "
    "q=0.5 interpolation is exact (frac 0 or 0.5), so medians are "
    "bit-identical cross-engine; the outlier threshold uses the same "
    "left-associated double expression on both sides. Two bounded sorts "
    "over distinct values + one counting scan — the heavy-tail-safe twin "
    "of mean/stddev z-scoring.",
    tags=("aggregate", "robust", "quantile", "llm-pipeline"),
    bench=True,  # promoted round 5: green driver row in CORRECTNESS_r04
)
def robust_scaling_mad(spark, sf_dir):
    ev = T(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    vals = ev.select("event_type", F.col("value").alias("v")).persist()
    amed = _grouped_median(vals)
    amed = amed.persist()  # consumed 3x: devs, outliers, output
    devs = vals.join(
        F.broadcast(amed.select("event_type", "med")), "event_type"
    ).select(
        "event_type", F.abs(F.col("v") - F.col("med")).alias("v")
    )
    bmed = _grouped_median(devs).select(
        "event_type", F.col("med").alias("mad")
    )
    thr = amed.join(F.broadcast(bmed), "event_type")
    outl = (
        vals.join(
            F.broadcast(thr.select("event_type", "med", "mad")), "event_type"
        )
        .filter(
            F.abs(F.col("v") - F.col("med"))
            > F.lit(3) * F.lit(1.4826) * F.col("mad")
        )
        .groupBy("event_type")
        .agg(F.count("*").alias("n_outliers"))
    )
    return (
        thr.join(F.broadcast(outl), "event_type", "left_outer")
        .select(
            "event_type",
            "n",
            "med",
            "mad",
            F.coalesce("n_outliers", F.lit(0)).cast("long").alias(
                "n_outliers"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Fixed-point power iteration on the per-label covariance matrices: the
# ORACLE-CHECKED eigen path. label_cov_top_eigen (applyInPandas + numpy)
# stays rows-only by nature; this query computes the same leading-
# eigenvalue statistic with every step in integer arithmetic — covariance
# entries fixed at 1e6 (from the decimal-exact moments), the iterate
# vector at 1e4 normalized by its max-abs component via truncating
# division (CASE on sign, so Spark's `div` and DuckDB's `//` agree) —
# making all 12 matrix-vector rounds EXACTLY cross-engine reproducible,
# k-means-oracle style. The Rayleigh quotient of the final iterate is the
# eigenvalue estimate (granularity-bounded, ~1e-3 of the float value —
# pinned against the numpy query by test).
#
# Scale: the moment aggregation is the only corpus-sized job (one
# shuffle); iterations run over |labels| x 64^2 fixed-point rows.
# ---------------------------------------------------------------------------

_PI_ITERS = 12
_PI_CSCALE = 1000000  # covariance fixed-point scale
_PI_VSCALE = 10000  # iterate vector fixed-point scale


def _power_iter_oracle() -> str:
    # Ensure the provider module has registered (this module can be pulled
    # in ahead of plans/__init__'s order by streaming_extra's oracle).
    from datalakes_and_data_integration_spark.plans import (  # noqa: F401
        similarity_extra,
    )
    from datalakes_and_data_integration_spark.plans.registry import QUERIES

    covm = QUERIES["label_cov_moments"].oracle
    steps = []
    prev_v = "v0"
    for r in range(1, _PI_ITERS + 2):  # one extra mat-vec for the Rayleigh w
        steps.append(
            f"""
    w{r} AS MATERIALIZED (
      SELECT c.label, c.i, CAST(sum(c.cfix * v.v) AS BIGINT) AS w
      FROM cov c JOIN {prev_v} v ON v.label = c.label AND v.j = c.j
      GROUP BY c.label, c.i
    )"""
        )
        if r <= _PI_ITERS:
            steps.append(
                f"""
    v{r} AS MATERIALIZED (
      SELECT label, i AS j,
             CASE WHEN mx IS NULL OR mx = 0 THEN 0
                  WHEN w >= 0 THEN (w * {_PI_VSCALE}) // mx
                  ELSE -(((-w) * {_PI_VSCALE}) // mx) END AS v
      FROM (
        SELECT label, i, w,
               max(abs(w)) OVER (PARTITION BY label) AS mx
        FROM w{r}
      )
    )"""
            )
            prev_v = f"v{r}"
    wlast = f"w{_PI_ITERS + 1}"
    return f"""
    WITH covm AS MATERIALIZED ({covm}),
    cov AS MATERIALIZED (
      SELECT label, i, j, CAST(floor(cov * {_PI_CSCALE}.0) AS BIGINT) AS cfix
      FROM covm
      UNION ALL
      SELECT label, j, i, CAST(floor(cov * {_PI_CSCALE}.0) AS BIGINT)
      FROM covm WHERE i < j
    ),
    labs AS (SELECT DISTINCT label FROM covm),
    v0 AS (
      SELECT label, d.j AS j, CAST({_PI_VSCALE} AS BIGINT) AS v
      FROM labs, (SELECT unnest(range(1, 65)) AS j) d
    ),{",".join(steps)},
    ray AS (
      SELECT v.label,
             CAST(sum(v.v * w.w) AS BIGINT) AS vw,
             CAST(sum(v.v * v.v) AS BIGINT) AS vv
      FROM v{_PI_ITERS} v JOIN {wlast} w
        ON w.label = v.label AND w.i = v.j
      GROUP BY v.label
    ),
    tr AS (
      SELECT label, CAST(sum(cfix) AS BIGINT) AS trf
      FROM cov WHERE i = j GROUP BY label
    ),
    nv AS (SELECT label, n AS n_vectors FROM covm WHERE i = 1 AND j = 1)
    SELECT r.label, nv.n_vectors,
           CAST(ROUND(CAST((CAST(r.vw AS DOUBLE) / CAST(r.vv AS DOUBLE))
                           / {_PI_CSCALE}.0 AS DECIMAL(27,12)), 6) AS DOUBLE)
             AS top_eigenvalue,
           CAST(ROUND(CAST(CAST(t.trf AS DOUBLE) / {_PI_CSCALE}.0
                           AS DECIMAL(27,12)), 6) AS DOUBLE) AS trace,
           CAST(ROUND(CAST(((CAST(r.vw AS DOUBLE) / CAST(r.vv AS DOUBLE))
                            / {_PI_CSCALE}.0)
                           / (CAST(t.trf AS DOUBLE) / {_PI_CSCALE}.0)
                           AS DECIMAL(27,12)), 6) AS DOUBLE) AS top_share
    FROM ray r
    JOIN tr t ON t.label = r.label
    JOIN nv ON nv.label = r.label
    """


@register(
    "label_cov_power_iteration",
    oracle=_power_iter_oracle(),
    description=f"Leading covariance eigenvalue per label, oracle-checked: "
    f"{_PI_ITERS} power-iteration rounds in int64 fixed point (cov at "
    f"1e6 from the decimal-exact moments, iterate at 1e4 max-abs-"
    "normalized with sign-split truncating division so Spark div and "
    "DuckDB // agree), Rayleigh quotient of the final iterate as the "
    "estimate — every round exactly cross-engine reproducible; agreement "
    "with the numpy/applyInPandas twin (label_cov_top_eigen) is pinned "
    "by test. The corpus-sized work is the one moments shuffle; "
    "iterations touch |labels| x 64^2 rows.",
    tags=("similarity", "spectrum", "iterative", "llm-pipeline"),
)
def label_cov_power_iteration(spark, sf_dir):
    from datalakes_and_data_integration_spark.plans.similarity_extra import (
        label_cov_moments,
    )

    covm = label_cov_moments(spark, sf_dir).select("label", "i", "j", "n", "cov")
    cfix = F.floor(F.col("cov") * _PI_CSCALE).cast("long").alias("cfix")
    upper = covm.select("label", "i", "j", cfix)
    lower = covm.filter(F.col("i") < F.col("j")).select(
        "label", F.col("j").alias("i"), F.col("i").alias("j"), cfix
    )
    cov = upper.unionByName(lower).persist()  # consumed every round + trace
    labs = covm.filter((F.col("i") == 1) & (F.col("j") == 1)).select(
        "label", F.col("n").alias("n_vectors")
    )
    v = labs.select(
        "label",
        F.explode(F.expr("sequence(1, 64)")).alias("j"),
        F.lit(_PI_VSCALE).cast("long").alias("v"),
    ).select("label", "j", "v")
    w = None
    for r in range(_PI_ITERS + 1):  # final extra mat-vec feeds the Rayleigh
        # cov(label,i,j,cfix) x v(label,j,v) joined on (label, j)
        w = (
            cov.alias("c")
            .join(
                v.alias("vv"),
                (F.col("c.label") == F.col("vv.label"))
                & (F.col("c.j") == F.col("vv.j")),
            )
            .groupBy(F.col("c.label").alias("label"), F.col("c.i").alias("i"))
            .agg(F.sum(F.col("c.cfix") * F.col("vv.v")).cast("long").alias("w"))
        )
        if r == _PI_ITERS:
            break
        mxw = Window.partitionBy("label")
        wn = w.withColumn("mx", F.max(F.abs(F.col("w"))).over(mxw))
        v = wn.select(
            "label",
            F.col("i").alias("j"),
            F.when((F.col("mx").isNull()) | (F.col("mx") == 0), F.lit(0))
            .when(
                F.col("w") >= 0,
                F.expr(f"(w * {_PI_VSCALE}) div mx"),
            )
            .otherwise(-F.expr(f"((-w) * {_PI_VSCALE}) div mx"))
            .cast("long")
            .alias("v"),
        ).localCheckpoint()  # truncate lineage each round (NOTES.md hazard)
    ray = (
        v.alias("v")
        .join(
            w.alias("w"),
            (F.col("w.label") == F.col("v.label"))
            & (F.col("w.i") == F.col("v.j")),
        )
        .groupBy(F.col("v.label").alias("label"))
        .agg(
            F.sum(F.col("v.v") * F.col("w.w")).cast("long").alias("vw"),
            F.sum(F.col("v.v") * F.col("v.v")).cast("long").alias("vv"),
        )
    )
    tr = (
        cov.filter(F.col("i") == F.col("j"))
        .groupBy("label")
        .agg(F.sum("cfix").cast("long").alias("trf"))
    )
    lam = F.col("vw").cast("double") / F.col("vv").cast("double") / F.lit(
        float(_PI_CSCALE)
    )
    trv = F.col("trf").cast("double") / F.lit(float(_PI_CSCALE))
    return (
        ray.join(tr, "label")
        .join(labs, "label")
        .select(
            "label",
            "n_vectors",
            r6(lam).alias("top_eigenvalue"),
            r6(trv).alias("trace"),
            r6(lam / trv).alias("top_share"),
        )
    )


# ---------------------------------------------------------------------------
# label_cov_top_eigen, oracle-checked (bound form): composes the
# applyInPandas/numpy float eigen path (similarity_extra.
# label_cov_top_eigen_float — not SQL-expressible on its own) with the
# fixed-point power iteration above, whose oracle IS cross-engine exact.
# Output = the fixed-point spectrum columns (hash-checked against the
# power-iteration oracle) plus `numpy_agrees`, TRUE iff the numpy path
# sits inside the same convergence/bias bands tests/test_power_iteration
# pins ((n-1)/n-corrected trace to 2e-3 rel, eigenvalue to 8% rel,
# top_share to 0.015 abs). The oracle pins numpy_agrees as literal TRUE,
# so numpy drift outside the band fails the hash — retiring the last
# rows-only slot (VERDICT r3 #3 option b).
# ---------------------------------------------------------------------------


@register(
    "label_cov_top_eigen",
    oracle=f"""
    SELECT label, n_vectors, top_eigenvalue, trace, top_share,
           TRUE AS numpy_agrees
    FROM ({_power_iter_oracle()})
    """,
    description="Leading covariance eigenvalue per embedding label, "
    "audit form: the int64 fixed-point power-iteration spectrum "
    "(oracle-exact) joined with the numpy/applyInPandas float twin; "
    "numpy_agrees pins the float path inside its convergence band "
    "(bias-corrected trace 2e-3 rel, eigenvalue 8% rel, share 0.015 "
    "abs). Exercises the applyInPandas grouped-map tier under a real "
    "oracle check.",
    tags=("similarity", "pandas-udf", "spectrum", "llm-pipeline"),
)
def label_cov_top_eigen(spark, sf_dir):
    from datalakes_and_data_integration_spark.plans.similarity_extra import (
        label_cov_top_eigen_float,
    )

    fixed = label_cov_power_iteration(spark, sf_dir)
    fl = label_cov_top_eigen_float(spark, sf_dir).select(
        "label",
        F.col("top_eigenvalue").alias("np_lam"),
        F.col("trace").alias("np_tr"),
        F.col("top_share").alias("np_share"),
    )
    bias = (F.col("n_vectors") - 1) / F.col("n_vectors")
    agrees = (
        (F.abs(F.col("trace") * bias - F.col("np_tr"))
         <= F.lit(2e-3) * F.col("np_tr"))
        & (F.abs(F.col("top_eigenvalue") * bias - F.col("np_lam"))
           <= F.lit(0.08) * F.col("np_lam"))
        & (F.abs(F.col("top_share") - F.col("np_share")) <= F.lit(0.015))
    )
    return fixed.join(fl, "label").select(
        "label",
        "n_vectors",
        "top_eigenvalue",
        "trace",
        "top_share",
        agrees.alias("numpy_agrees"),
    )


# ---------------------------------------------------------------------------
# Retrieval-quality evaluation: mean reciprocal rank of the first
# same-label neighbor in the exact cosine top-k, per label. The standard
# embedding-space eval (does nearest-neighbor retrieval surface items of
# the right class?) — the go/no-go evidence before using these embeddings
# for dedup, clustering, or RAG retrieval. Composes the registered exact
# ANN kernel and its oracle; reciprocal ranks are decimal-summed so the
# mean is order-independent.
# ---------------------------------------------------------------------------


def _mrr_oracle() -> str:
    from datalakes_and_data_integration_spark.plans.registry import QUERIES

    exact_sql = QUERIES["ann_topk_bruteforce"].oracle
    return f"""
    WITH tk AS ({exact_sql}),
    lab AS (SELECT vec_id, label FROM embeddings),
    firsts AS (
      SELECT t.vec_id, ql.label,
             min(CASE WHEN nl.label = ql.label THEN t.rank END) AS fr
      FROM tk t
      JOIN lab ql ON ql.vec_id = t.vec_id
      JOIN lab nl ON nl.vec_id = t.neighbor_id
      GROUP BY t.vec_id, ql.label
    )
    SELECT label, count(*) AS n_queries,
           CAST(sum(CASE WHEN fr IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hits,
           CAST(ROUND(CAST(
             CAST(sum(CAST(coalesce(CAST(1 AS DOUBLE) / fr, 0.0)
                           AS DECIMAL(27,12))) AS DOUBLE) / count(*)
             AS DECIMAL(27,12)), 6) AS DOUBLE) AS mean_rr
    FROM firsts GROUP BY label
    """


@register(
    "ann_label_mrr",
    oracle=_mrr_oracle(),
    description="Embedding retrieval eval: per label, mean reciprocal rank "
    "of the first same-label neighbor in the exact cosine top-5 (0 when "
    "none), plus the hit count — class coherence of the embedding space, "
    "the go/no-go evidence for similarity-based curation and retrieval. "
    "Composes the hybrid exact kernel (identical top-5 to "
    "ann_topk_bruteforce, block-wise cost) and the exact oracle; "
    "reciprocal ranks are "
    "decimal-summed (order-independent mean), label lookups are plain "
    "hash joins (AQE broadcasts when the label map is small — never "
    "forced, the map is corpus-sized).",
    tags=("similarity", "eval", "mrr", "llm-pipeline"),
)
def ann_label_mrr(spark, sf_dir):
    from datalakes_and_data_integration_spark.plans.similarity import (
        ann_topk_bruteforce_hybrid,
    )

    # Hybrid exact kernel — identical top-5, block-wise cost (see
    # ann_hard_negatives in similarity_extra).
    tk = ann_topk_bruteforce_hybrid(spark, sf_dir).select(
        "vec_id", "neighbor_id", "rank"
    )
    lab = T(spark, sf_dir, "embeddings").select("vec_id", "label")
    # Plain hash joins on purpose: the (vec_id, label) map is CORPUS-sized
    # — a forced broadcast would OOM at scale (VERDICT r2 #7); AQE picks
    # broadcast when the map is actually small.
    firsts = (
        tk.join(lab, "vec_id")
        .join(
            lab.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("n_label"),
            ),
            "neighbor_id",
        )
        .groupBy("vec_id", "label")
        .agg(
            F.min(
                F.when(F.col("n_label") == F.col("label"), F.col("rank"))
            ).alias("fr")
        )
    )
    rr = F.coalesce(F.lit(1).cast("double") / F.col("fr"), F.lit(0.0))
    return firsts.groupBy("label").agg(
        F.count("*").alias("n_queries"),
        F.sum(F.when(F.col("fr").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_hits"),
        r6(
            F.sum(rr.cast("decimal(27,12)")).cast("double")
            / F.count("*")
        ).alias("mean_rr"),
    )


# ---------------------------------------------------------------------------
# Leakage-free dataset split: assign SPLITS TO NEAR-DUP CLUSTERS, not to
# documents. dataset_split_assignment hashes doc_id, so two near-identical
# docs can straddle train/test (the leak split_leakage_audit measures);
# hashing the CLUSTER id instead makes the guarantee structural — every
# member of a near-dup cluster lands in the same split by construction.
# Composes the registered connected-components assignment and its
# recursive-CTE oracle.
# ---------------------------------------------------------------------------


def _cluster_split_oracle() -> str:
    from datalakes_and_data_integration_spark.plans.dedup import (
        _cluster_oracle,
    )

    bucket = hash60_sql_duck("CAST(cluster_id AS VARCHAR)", seed=23)
    return f"""
    WITH clusters AS MATERIALIZED ({_cluster_oracle()}),
    assigned AS (
      SELECT c.doc, c.cluster_id, d.n_chars,
             CASE WHEN ({bucket}) % 100 < 80 THEN 'train'
                  WHEN ({bucket}) % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM clusters c JOIN documents d ON d.doc_id = c.doc
    )
    SELECT split, count(*) AS n_docs,
           CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM assigned GROUP BY split
    """


@register(
    "cluster_aware_split",
    oracle=_cluster_split_oracle(),
    description="Leakage-free 80/10/10 split: the md5 split hash is taken "
    "over the near-dup CLUSTER id (connected components over verified "
    "MinHash pairs), so near-duplicate documents can never straddle "
    "train/test — the structural fix for the leak split_leakage_audit "
    "measures. Per-split doc/cluster/char counts verify the assignment; "
    "composes dedup_cluster_assignment and its recursive-CTE oracle.",
    tags=("sampling", "split", "dedup", "llm-pipeline"),
)
def cluster_aware_split(spark, sf_dir):
    from datalakes_and_data_integration_spark.plans.dedup import (
        dedup_cluster_assignment,
    )

    clusters = dedup_cluster_assignment(spark, sf_dir).select(
        "doc", "cluster_id"
    )
    docs = T(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("doc"), "n_chars"
    )
    bucket = (
        F.expr(
            hash60_sql_spark("CAST(cluster_id AS STRING)", seed=23)
        )
        % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        clusters.join(docs, "doc")
        .select("cluster_id", "n_chars", split.alias("split"))
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("cluster_id").alias("n_clusters"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Class-balanced batch construction: interleave per-label queues (each
# label's vectors ranked by a reproducible md5 shuffle) round-robin into
# fixed-size training batches, then audit the balance per batch. The
# contrastive-training counterpart of curriculum ordering: batches need
# every class present, and the audit shows exactly where the tail labels
# run dry. All integer arithmetic.
#
# Scale: the rank windows are partitioned per label; the only global
# structure is batch_id = pos // BATCH, a pure projection.
# ---------------------------------------------------------------------------

_BATCH = 64


@register(
    "balanced_batch_assignment",
    oracle=f"""
    WITH lab AS (
      SELECT vec_id, label,
             row_number() OVER (
               PARTITION BY label
               ORDER BY {hash60_sql_duck("CAST(vec_id AS VARCHAR)", seed=29)},
                        vec_id
             ) AS r
      FROM embeddings
    ),
    li AS (
      SELECT label, row_number() OVER (ORDER BY label) - 1 AS lidx
      FROM (SELECT DISTINCT label FROM embeddings)
    ),
    nl AS (SELECT count(*) AS L FROM li),
    pos AS (
      SELECT v.vec_id, v.label,
             (v.r - 1) * n.L + i.lidx AS pos
      FROM lab v JOIN li i ON i.label = v.label CROSS JOIN nl n
    ),
    batches AS (
      SELECT label, pos // {_BATCH} AS batch_id FROM pos
    ),
    per AS (
      SELECT batch_id, label, count(*) AS c
      FROM batches GROUP BY batch_id, label
    )
    SELECT batch_id,
           CAST(sum(c) AS BIGINT) AS n_items,
           CAST(count(*) AS BIGINT) AS n_labels_present,
           CAST(max(c) AS BIGINT) AS max_per_label,
           CAST(min(c) AS BIGINT) AS min_per_label
    FROM per GROUP BY batch_id
    """,
    description=f"Class-balanced batch construction: per-label md5-shuffle "
    f"ranking, round-robin interleave into {_BATCH}-item batches "
    "(pos = (rank-1)*L + label_index, batch = pos div batch_size), "
    "per-batch balance audit (items, labels present, max/min per label). "
    "Early batches are perfectly balanced; the audit shows where tail "
    "labels run dry — the evidence for oversampling decisions. Per-label "
    "windows only; the interleave is a projection.",
    tags=("sampling", "batching", "llm-pipeline"),
)
def balanced_batch_assignment(spark, sf_dir):
    e = T(spark, sf_dir, "embeddings").select("vec_id", "label")
    h = F.expr(hash60_sql_spark("CAST(vec_id AS STRING)", seed=29))
    wr = Window.partitionBy("label").orderBy(h.asc(), F.col("vec_id"))
    lab = e.withColumn("r", F.row_number().over(wr))
    # scale-ok: window over the dim-sized distinct-label table
    wl = Window.orderBy("label")
    li = (
        e.select("label")
        .distinct()
        .withColumn("lidx", F.row_number().over(wl) - 1)
    )
    nl = li.agg(F.count("*").alias("L"))
    pos = (
        lab.join(li, "label")
        .crossJoin(F.broadcast(nl))  # scale-ok: 1-row label count
        .select(
            "label",
            ((F.col("r") - 1) * F.col("L") + F.col("lidx")).alias("pos"),
        )
    )
    per = (
        pos.select("label", F.expr(f"pos div {_BATCH}").alias("batch_id"))
        .groupBy("batch_id", "label")
        .agg(F.count("*").alias("c"))
    )
    return per.groupBy("batch_id").agg(
        F.sum("c").cast("long").alias("n_items"),
        F.count("*").cast("long").alias("n_labels_present"),
        F.max("c").cast("long").alias("max_per_label"),
        F.min("c").cast("long").alias("min_per_label"),
    )


# ---------------------------------------------------------------------------
# One-row corpus health snapshot: the numbers a daily pipeline report
# leads with (volume, vocabulary-bearing tokens, provenance spread,
# exact-duplication rate) — all exact integers or decimal-routed means,
# one scan plus one distinct-digest aggregate.
# ---------------------------------------------------------------------------


@register(
    "corpus_snapshot_stats",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, text, lang, source, n_chars,
             len({_TOK_DUCK}) AS n_tok
      FROM documents
    )
    SELECT count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           count(DISTINCT lang) AS n_langs,
           count(DISTINCT source) AS n_sources,
           CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT)
             AS n_exact_dup_docs,
           CAST(ROUND(CAST(CAST(count(*) - count(DISTINCT md5(text))
                                AS DOUBLE) / count(*)
                           AS DECIMAL(27,12)), 6) AS DOUBLE)
             AS exact_dup_rate,
           CAST(ROUND(CAST(CAST(sum(n_tok) AS DOUBLE) / count(*)
                           AS DECIMAL(27,12)), 6) AS DOUBLE)
             AS mean_doc_tokens
    FROM tok
    """,
    description="One-row corpus health snapshot: document/token/char "
    "volumes, language and source spread, exact-duplicate count and rate "
    "(count minus distinct content digests), mean tokens per doc "
    "(decimal-routed) — the header of a daily pipeline report. One scan "
    "+ one distinct-digest aggregate; every value exact.",
    tags=("curation", "profiling", "report", "llm-pipeline"),
)
def corpus_snapshot_stats(spark, sf_dir):
    d = spread(T(spark, sf_dir, "documents"), spark)
    tok = d.select(
        "lang",
        "source",
        "n_chars",
        F.md5("text").alias("digest"),
        F.size(F.expr(_TOK_SPARK)).alias("n_tok"),
    )
    dup = F.count("*") - F.countDistinct("digest")
    return tok.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        dup.cast("long").alias("n_exact_dup_docs"),
        r6(dup.cast("double") / F.count("*")).alias("exact_dup_rate"),
        r6(F.sum("n_tok").cast("double") / F.count("*"))
        .alias("mean_doc_tokens"),
    )


# ---------------------------------------------------------------------------
# BPE merge learning: the first _BPE_ROUNDS byte-pair-encoding merges
# learned from the corpus word frequencies. Words are char-split into
# '|'-delimited symbol strings; each round counts adjacent symbol pairs
# (weighted by word frequency), picks the most frequent (ties: lexical),
# and applies it via a single left-to-right non-overlapping replace scan
# — VERIFIED identical semantics in Spark and DuckDB, including the
# shared-boundary case ('|a|a|a|a|' -> '|aa|a|a|': the scan resumes
# after each match, so odd positions inside a run of the pair itself
# stay unmerged; strict greedy BPE differs only there). Every round is
# therefore exactly cross-engine reproducible and the learned merge
# table is hash-checked.
#
# Scale: the state is the (word, frequency, symbols) table — vocabulary-
# sized, not corpus-sized (the corpus is scanned once for word counts).
# Each round is one map + one grouped sum + a 1-row argmax collected as
# a driver literal (the IVF pattern), so lineage stays flat.
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 5


def _bpe_chain_cte() -> tuple[str, list[str]]:
    """The shared DuckDB CTE chain learning ``_BPE_ROUNDS`` merges: returns
    (cte_body, per-round top-pair SELECTs). ``syms{_BPE_ROUNDS}`` holds the
    final word -> symbol-string vocabulary; composed by the learning oracle
    below and by curation4's encode oracle."""
    rounds = []
    outs = []
    prev = "syms0"
    for r in range(1, _BPE_ROUNDS + 1):
        rounds.append(
            f"""
    pairs{r} AS MATERIALIZED (
      SELECT s.syms[s.i] AS a, s.syms[s.i + 1] AS b,
             CAST(sum(s.wc) AS BIGINT) AS cnt
      FROM (
        SELECT wc, syms, unnest(range(1, len(syms))) AS i
        FROM (
          SELECT wc,
                 list_filter(string_split(sym, '|'), x -> x <> '') AS syms
          FROM {prev}
        )
      ) s
      GROUP BY s.syms[s.i], s.syms[s.i + 1]
    ),
    top{r} AS MATERIALIZED (
      SELECT a, b, cnt FROM pairs{r} ORDER BY cnt DESC, a, b LIMIT 1
    ),
    syms{r} AS MATERIALIZED (
      SELECT word, wc,
             replace(sym,
                     '|' || (SELECT a FROM top{r}) || '|'
                         || (SELECT b FROM top{r}) || '|',
                     '|' || (SELECT a FROM top{r})
                         || (SELECT b FROM top{r}) || '|') AS sym
      FROM {prev}
    )"""
        )
        outs.append(
            f"SELECT {r} AS merge_round, a AS sym_a, b AS sym_b, "
            f"cnt AS pair_count FROM top{r}"
        )
        prev = f"syms{r}"
    body = f"""
    words AS MATERIALIZED (
      SELECT word, count(*) AS wc
      FROM (SELECT unnest({_TOK_DUCK}) AS word FROM documents)
      WHERE word NOT LIKE '%|%'
      GROUP BY word
    ),
    syms0 AS MATERIALIZED (
      SELECT word, wc,
             '|' || array_to_string(regexp_extract_all(word, '.'), '|')
                 || '|' AS sym
      FROM words
    ),{",".join(rounds)}"""
    return body, outs


def _bpe_oracle() -> str:
    body, outs = _bpe_chain_cte()
    return f"""
    WITH {body}
    {" UNION ALL ".join(outs)}
    """


@register(
    "bpe_merge_learning",
    oracle=_bpe_oracle(),
    description=f"BPE tokenizer training, first {_BPE_ROUNDS} merges: "
    "corpus word frequencies -> char-split symbol sequences -> per round, "
    "the most frequent adjacent symbol pair (frequency-weighted, lexical "
    "tiebreak) merged everywhere via a left-to-right non-overlapping "
    "replace scan (verified identical in both engines, incl. the "
    "shared-boundary run case). The learned merge table (round, pair, "
    "count) is the output. State is vocabulary-sized; each round is one "
    "grouped sum plus a 1-row argmax applied as a driver literal.",
    tags=("text", "tokenizer", "bpe", "iterative", "llm-pipeline"),
)
def bpe_merge_learning(spark, sf_dir):
    merges, syms = bpe_learn(spark, sf_dir)
    syms.unpersist()
    return spark.createDataFrame(
        merges, "merge_round bigint, sym_a string, sym_b string, "
        "pair_count bigint"
    )


def bpe_learn(spark, sf_dir):
    """Learn ``_BPE_ROUNDS`` merges over the corpus word vocabulary.

    Returns ``(merges, syms)``: the ordered merge table as
    ``[(round, sym_a, sym_b, count)]`` driver literals, and the final
    persisted ``(word, wc, sym)`` vocabulary DataFrame with all merges
    applied — the trained tokenizer state curation4's encode query joins
    against. Caller owns the unpersist."""
    d = spread(T(spark, sf_dir, "documents"), spark)
    words = (
        d.select(F.explode(F.expr(_TOK_SPARK)).alias("word"))
        .filter(~F.col("word").contains("|"))
        .groupBy("word")
        .agg(F.count("*").alias("wc"))
    )
    syms = words.select(
        "word",
        "wc",
        F.concat(
            F.lit("|"),
            F.concat_ws("|", F.expr("regexp_extract_all(word, '.', 0)")),
            F.lit("|"),
        ).alias("sym"),
    ).persist()
    merges = []
    for r in range(1, _BPE_ROUNDS + 1):
        pairs = (
            syms.select(
                "wc",
                F.expr(
                    "filter(split(sym, '\\\\|'), x -> x != '')"
                ).alias("arr"),
            )
            .select(
                "wc",
                F.explode(
                    # sequence(1, 0) DESCENDS in Spark (not empty) — guard
                    # single-symbol words explicitly.
                    F.expr(
                        "CASE WHEN size(arr) < 2 THEN "
                        "array() "
                        "ELSE transform(sequence(1, size(arr) - 1), i -> "
                        "named_struct('a', element_at(arr, i), "
                        "'b', element_at(arr, i + 1))) END"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("wc").cast("long").alias("cnt"))
        )
        top = pairs.orderBy(
            F.col("cnt").desc(), F.col("a"), F.col("b")
        ).limit(1).collect()[0]  # scale-ok: 1-row argmax (driver literal)
        merges.append((r, top.a, top.b, int(top.cnt)))
        old = syms
        syms = old.select(
            "word",
            "wc",
            F.expr(
                "replace(sym, '|{a}|{b}|', '|{a}{b}|')".replace(
                    "{a}", top.a.replace("'", "\\'")
                ).replace("{b}", top.b.replace("'", "\\'"))
            ).alias("sym"),
        ).persist()
        old.unpersist()
    return merges, syms


# ---------------------------------------------------------------------------
# Token-weighted quality cutoffs: the curation question is not "what is
# the median document quality" but "what quality threshold keeps the
# best X% of TOKENS" — long documents carry more training signal, so
# thresholds must be token-weighted. Rank-selection over distinct
# quality values with integer token weights; the crossing test is
# multiplied through (cum*100 >= pct*total), so it is exact int64
# arithmetic on both engines.
# ---------------------------------------------------------------------------

_QUALITY_DUCK = """
           0.4 * (CASE WHEN len(toks) > 0 THEN
                    CAST(len(list_filter(toks, t -> list_contains([{en}], t)))
                         AS DOUBLE) / len(toks) ELSE 0.0 END)
           + 0.3 * least(1.0, CAST(len(toks) AS DOUBLE) / 100.0)
           + 0.3 * (1.0 - (CASE WHEN n > 0
                           THEN CAST(punct_cnt AS DOUBLE) / n
                           ELSE 0.0 END))
"""


def _twq_oracle() -> str:
    from datalakes_and_data_integration_spark.functions.text import STOPWORDS

    en = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    q = _QUALITY_DUCK.format(en=en)
    return f"""
    WITH tok AS (
      SELECT doc_id, {_TOK_DUCK} AS toks, length(text) AS n,
             len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS punct_cnt
      FROM documents
    ),
    scored AS (
      SELECT len(toks) AS n_tok, {q} AS quality FROM tok
    ),
    grp AS (
      SELECT quality, CAST(sum(n_tok) AS BIGINT) AS tok_q,
             count(*) AS n_docs
      FROM scored GROUP BY quality
    ),
    win AS (
      SELECT quality, tok_q, n_docs,
             CAST(sum(tok_q) OVER (ORDER BY quality DESC) AS BIGINT) AS cum,
             CAST(sum(n_docs) OVER (ORDER BY quality DESC) AS BIGINT)
               AS cum_docs
      FROM grp
    ),
    tot AS (SELECT CAST(sum(tok_q) AS BIGINT) AS total FROM grp)
    SELECT p.pct,
           max(w.quality) AS quality_cutoff
    FROM win w CROSS JOIN tot t
    CROSS JOIN (SELECT unnest([50, 90]) AS pct) p
    WHERE w.cum * 100 >= p.pct * t.total
    GROUP BY p.pct
    """


@register(
    "token_weighted_quality_quantile",
    oracle=_twq_oracle(),
    description="Token-weighted quality cutoffs: the highest quality "
    "threshold whose documents cover >= 50% / 90% of corpus TOKENS "
    "(descending cumulative token mass over distinct quality values; "
    "crossing test multiplied through to exact int64). The keep-the-best-"
    "X%-of-tokens knob — document-count quantiles mislead when length "
    "and quality correlate. Sort is over distinct quality values; one "
    "scan, one bounded window.",
    tags=("curation", "quality", "quantile", "llm-pipeline"),
)
def token_weighted_quality_quantile(spark, sf_dir):
    from datalakes_and_data_integration_spark.plans.text import (
        text_quality_score,
    )

    scored = text_quality_score(spark, sf_dir).select(
        F.col("n_tokens").alias("n_tok"), "quality"
    )
    grp = scored.groupBy("quality").agg(
        F.sum("n_tok").cast("long").alias("tok_q"),
        F.count("*").alias("n_docs"),
    )
    # scale-ok: window over distinct quality values (bounded cardinality)
    wo = Window.orderBy(F.col("quality").desc())
    win = grp.select(
        "quality", F.sum("tok_q").over(wo).cast("long").alias("cum")
    )
    tot = grp.agg(F.sum("tok_q").cast("long").alias("total"))
    pcts = F.explode(F.array(F.lit(50), F.lit(90))).alias("pct")
    return (
        win.crossJoin(F.broadcast(tot))  # scale-ok: 1-row total
        .select("quality", "cum", "total", pcts)
        .filter(F.col("cum") * 100 >= F.col("pct") * F.col("total"))
        .groupBy("pct")
        .agg(F.max("quality").alias("quality_cutoff"))
    )


# ---------------------------------------------------------------------------
# Dedup savings report: how many documents and tokens each dedup tier
# would remove — exact content dedup (drop non-keeper copies), passage
# dedup (drop repeated passages), and near-dup clustering (keep one
# representative per cluster). The cost/benefit summary that decides
# which tiers a pipeline runs; composes the registered operators and
# their oracles, all counts exact integers.
# ---------------------------------------------------------------------------


def _savings_oracle() -> str:
    from datalakes_and_data_integration_spark.plans.dedup import (
        _cluster_oracle,
    )

    return f"""
    WITH tok AS (
      SELECT doc_id, {_TOK_DUCK} AS toks FROM documents
    ),
    sizes AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok FROM tok),
    exact_losers AS (
      SELECT d.doc_id
      FROM documents d
      JOIN (
        SELECT md5(text) AS h, min(doc_id) AS keeper
        FROM documents GROUP BY md5(text)
      ) k ON md5(d.text) = k.h AND d.doc_id <> k.keeper
    ),
    tok2 AS (SELECT doc_id, toks FROM tok WHERE len(toks) > 0),
    passages AS (
      SELECT doc_id, CAST(p AS BIGINT) AS pidx, len(toks) AS n,
             array_to_string(toks[p * {_PASS} + 1 : p * {_PASS} + {_PASS}],
                             ' ') AS ptext
      FROM (
        SELECT doc_id, toks,
               unnest(generate_series(0,
                 CAST(floor((len(toks) - 1) / {_PASS}) AS BIGINT))) AS p
        FROM tok2
      )
    ),
    marked AS (
      SELECT doc_id, pidx, n,
             least((pidx + 1) * {_PASS}, n) - pidx * {_PASS} AS plen,
             row_number() OVER (PARTITION BY md5(ptext)
                                ORDER BY doc_id, pidx) AS rn
      FROM passages
    ),
    clusters AS MATERIALIZED ({_cluster_oracle()}),
    nd_losers AS (SELECT doc FROM clusters WHERE doc <> cluster_id)
    SELECT 'exact' AS tier,
           CAST((SELECT count(*) FROM exact_losers) AS BIGINT)
             AS n_docs_affected,
           CAST(coalesce((SELECT sum(s.n_tok) FROM exact_losers e
                          JOIN sizes s ON s.doc_id = e.doc_id), 0)
                AS BIGINT) AS tokens_removed
    UNION ALL
    SELECT 'passage',
           CAST((SELECT count(DISTINCT doc_id) FROM marked WHERE rn > 1)
                AS BIGINT),
           CAST(coalesce((SELECT sum(plen) FROM marked WHERE rn > 1), 0)
                AS BIGINT)
    UNION ALL
    SELECT 'neardup',
           CAST((SELECT count(*) FROM nd_losers) AS BIGINT),
           CAST(coalesce((SELECT sum(s.n_tok) FROM nd_losers n
                          JOIN sizes s ON s.doc_id = n.doc), 0)
                AS BIGINT)
    """


@register(
    "dedup_savings_report",
    oracle=_savings_oracle(),
    description="Dedup cost/benefit report: documents affected and exact "
    "tokens removed by each tier — exact content dedup (non-keeper "
    "copies), passage dedup (repeated 16-token passages), near-dup "
    "clustering (non-representative cluster members). Composes the "
    "registered dedup operators and their oracles; the decision table "
    "for which tiers a 100 TB pipeline runs.",
    tags=("dedup", "curation", "report", "llm-pipeline"),
)
def dedup_savings_report(spark, sf_dir):
    from datalakes_and_data_integration_spark.plans.dedup import (
        dedup_cluster_assignment,
    )

    d = spread(T(spark, sf_dir, "documents"), spark)
    tok = d.select(
        "doc_id", F.md5("text").alias("h"), F.expr(_TOK_SPARK).alias("toks")
    ).persist()
    sizes = tok.select("doc_id", F.size("toks").cast("long").alias("n_tok"))

    keepers = tok.groupBy("h").agg(F.min("doc_id").alias("keeper"))
    exact_losers = (
        tok.join(keepers, "h")
        .filter(F.col("doc_id") != F.col("keeper"))
        .select("doc_id")
    )
    exact = exact_losers.join(sizes, "doc_id").agg(
        F.count("*").cast("long").alias("n_docs_affected"),
        F.coalesce(F.sum("n_tok"), F.lit(0))
        .cast("long")
        .alias("tokens_removed"),
    ).select(F.lit("exact").alias("tier"), "n_docs_affected", "tokens_removed")

    tok2 = tok.filter(F.size("toks") > 0)
    passages = tok2.select(
        "doc_id",
        F.size("toks").alias("n"),
        F.explode(
            F.expr(
                f"sequence(0, CAST(floor((size(toks) - 1) / {_PASS}) "
                "AS BIGINT))"
            )
        ).alias("pidx"),
        "toks",
    ).select(
        "doc_id",
        "n",
        F.col("pidx").cast("long").alias("pidx"),
        F.expr(
            f"concat_ws(' ', slice(toks, pidx * {_PASS} + 1, {_PASS}))"
        ).alias("ptext"),
    )
    w = Window.partitionBy(F.md5("ptext")).orderBy("doc_id", "pidx")
    marked = passages.withColumn("rn", F.row_number().over(w)).select(
        "doc_id",
        "rn",
        (
            F.least((F.col("pidx") + 1) * _PASS, F.col("n"))
            - F.col("pidx") * _PASS
        )
        .cast("long")
        .alias("plen"),
    )
    lost = marked.filter(F.col("rn") > 1)
    passage = lost.agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs_affected"),
        F.coalesce(F.sum("plen"), F.lit(0))
        .cast("long")
        .alias("tokens_removed"),
    ).select(
        F.lit("passage").alias("tier"), "n_docs_affected", "tokens_removed"
    )

    clusters = dedup_cluster_assignment(spark, sf_dir).select(
        "doc", "cluster_id"
    )
    nd_losers = clusters.filter(F.col("doc") != F.col("cluster_id")).select(
        F.col("doc").alias("doc_id")
    )
    neardup = nd_losers.join(sizes, "doc_id").agg(
        F.count("*").cast("long").alias("n_docs_affected"),
        F.coalesce(F.sum("n_tok"), F.lit(0))
        .cast("long")
        .alias("tokens_removed"),
    ).select(
        F.lit("neardup").alias("tier"), "n_docs_affected", "tokens_removed"
    )

    return exact.unionByName(passage).unionByName(neardup)


# ---------------------------------------------------------------------------
# Inclusion-dependency profiling: join-key discovery over the lake. For
# candidate (source column, target column) pairs, the inclusion
# coefficient |distinct(src) in distinct(dst)| / |distinct(src)| — 1.0
# marks a foreign key, values near 1 mark dirty FKs, low values rule the
# join out. The schema-discovery pass a lakehouse runs before writing
# join pipelines; includes a deliberate negative control. All counts are
# exact distinct aggregates; each pair is a pre-aggregated semi-join of
# DISTINCT key sets (never fact-table rows).
# ---------------------------------------------------------------------------

_IND_PAIRS = [
    ("events", "user_id", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
    # negative control: no semantic relationship
    ("events", "user_id", "part", "p_partkey"),
]


def _ind_oracle() -> str:
    blocks = []
    for st, sc, dt, dc in _IND_PAIRS:
        blocks.append(
            f"""
    SELECT '{st}.{sc}' AS src, '{dt}.{dc}' AS dst,
           (SELECT count(DISTINCT {sc}) FROM {st}
            WHERE {sc} IS NOT NULL) AS n_src,
           (SELECT count(DISTINCT {dc}) FROM {dt}
            WHERE {dc} IS NOT NULL) AS n_dst,
           (SELECT count(*) FROM
              (SELECT DISTINCT {sc} AS v FROM {st} WHERE {sc} IS NOT NULL) s
            WHERE s.v IN (SELECT {dc} FROM {dt})) AS n_shared,
           CAST(ROUND(CAST(
             CAST((SELECT count(*) FROM
                     (SELECT DISTINCT {sc} AS v FROM {st}
                      WHERE {sc} IS NOT NULL) s
                   WHERE s.v IN (SELECT {dc} FROM {dt})) AS DOUBLE)
             / (SELECT count(DISTINCT {sc}) FROM {st}
                WHERE {sc} IS NOT NULL)
             AS DECIMAL(27,12)), 6) AS DOUBLE) AS inclusion"""
        )
    return " UNION ALL ".join(blocks)


@register(
    "inclusion_dependency_profile",
    oracle=_ind_oracle(),
    description="Join-key discovery: inclusion coefficients for candidate "
    "(source, target) key-column pairs across all lake tables — 1.0 marks "
    "a clean foreign key, near-1 a dirty one, low values rule the join "
    "out (a deliberate negative control pair is included). Exact distinct "
    "counts; each pair reduces to a semi-join of pre-aggregated DISTINCT "
    "key sets, so fact rows never shuffle — the schema-discovery pass "
    "that precedes join pipelines on an unfamiliar lake.",
    tags=("profiling", "discovery", "join", "llm-pipeline"),
)
def inclusion_dependency_profile(spark, sf_dir):
    out = None
    for st, sc, dt, dc in _IND_PAIRS:
        src = (
            T(spark, sf_dir, st)
            .filter(F.col(sc).isNotNull())
            .select(F.col(sc).alias("v"))
            .distinct()
        )
        dst = (
            T(spark, sf_dir, dt)
            .filter(F.col(dc).isNotNull())
            .select(F.col(dc).alias("v"))
            .distinct()
        )
        shared = src.join(dst, "v", "left_semi")
        n_dst = F.broadcast(dst.agg(F.count("*").alias("n_dst")))
        n_shared = F.broadcast(shared.agg(F.count("*").alias("n_shared")))
        row = (
            src.agg(F.count("*").alias("n_src"))
            # scale-ok: 1-row aggregates
            .crossJoin(n_dst)
            # scale-ok: 1-row aggregate
            .crossJoin(n_shared)
            .select(
                F.lit(f"{st}.{sc}").alias("src"),
                F.lit(f"{dt}.{dc}").alias("dst"),
                "n_src",
                "n_dst",
                "n_shared",
                r6(
                    F.col("n_shared").cast("double")
                    / F.col("n_src").cast("double")
                ).alias("inclusion"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# Functional-dependency profiling: the sibling discovery pass to
# inclusion_dependency_profile. For candidate (determinant, dependent)
# column pairs, how many determinant groups map to MORE than one
# dependent value — 0 violations means the FD holds (a derivable /
# denormalizable column), small counts mean a dirty FD. TPC-H plants a
# real one: p_brand -> p_mfgr. Exact grouped distinct counts; work is
# bounded by determinant cardinality.
# ---------------------------------------------------------------------------

_FD_PAIRS = [
    ("part", "p_partkey", "p_brand"),  # holds: key determines everything
    ("part", "p_brand", "p_type"),  # violated: brands span types
    ("part", "p_size", "p_brand"),  # violated
    ("customer", "c_nationkey", "c_mktsegment"),  # violated
    ("orders", "o_orderpriority", "o_orderstatus"),  # violated
    ("nation", "n_nationkey", "n_regionkey"),  # holds (PK)
    ("events", "user_id", "event_type"),  # violated
]


def _fd_oracle() -> str:
    blocks = []
    for t, det, dep in _FD_PAIRS:
        blocks.append(
            f"""
    SELECT '{t}.{det}' AS determinant, '{t}.{dep}' AS dependent,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating_groups,
           CAST(sum(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS BIGINT) = 0
             AS fd_holds
    FROM (
      SELECT {det}, count(DISTINCT {dep}) AS n_dep
      FROM {t} GROUP BY {det}
    )"""
        )
    return " UNION ALL ".join(blocks)


@register(
    "functional_dependency_profile",
    oracle=_fd_oracle(),
    description="Functional-dependency discovery: for candidate "
    "(determinant, dependent) column pairs, the count of determinant "
    "groups mapping to more than one dependent value — zero violations "
    "means the FD holds (primary-key determinants hold by "
    "construction), small counts flag dirty FKs/denormalization bugs. "
    "Exact grouped distinct counts bounded by determinant cardinality; "
    "the sibling pass to inclusion_dependency_profile in the "
    "schema-discovery suite.",
    tags=("profiling", "discovery", "quality", "llm-pipeline"),
)
def functional_dependency_profile(spark, sf_dir):
    out = None
    for t, det, dep in _FD_PAIRS:
        grp = (
            T(spark, sf_dir, t)
            .groupBy(det)
            .agg(F.countDistinct(dep).alias("n_dep"))
        )
        viol = F.sum(F.when(F.col("n_dep") > 1, 1).otherwise(0)).cast("long")
        row = grp.agg(
            F.count("*").cast("long").alias("n_groups"),
            viol.alias("n_violating_groups"),
        ).select(
            F.lit(f"{t}.{det}").alias("determinant"),
            F.lit(f"{t}.{dep}").alias("dependent"),
            "n_groups",
            "n_violating_groups",
            (F.col("n_violating_groups") == 0).alias("fd_holds"),
        )
        out = row if out is None else out.unionByName(row)
    return out
