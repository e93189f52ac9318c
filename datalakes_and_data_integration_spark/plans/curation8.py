"""Round-7 fourth-session curation operators.

- ``importance_resampling_weights``: DSIR-shaped data selection (Xie et
  al. 2023, "Data Selection for Language Models via Importance
  Resampling"): score every raw document by how much more likely its
  hashed n-gram features are under a target domain than under the raw
  corpus. DSIR proper multiplies per-feature likelihood ratios (sums
  log-ratios); cross-engine ``ln`` is not correctly-rounded, so the
  registered form uses the AVERAGE per-mille smoothed ratio over the
  document's distinct features — integer-exact in both engines, same
  monotone "target-like documents score high" ordering, and the whole
  verdict hash-checks. The float log-ratio product is a one-line swap
  on top of the same feature/count frames at deployment.

Scale: features hash into a FIXED bucket space (4096), so the per-bucket
count table is bounded and broadcasts regardless of corpus size — the
DSIR property that makes it run on raw CommonCrawl. One shuffle for the
bucket counts, one for the per-doc sum; the corpus never self-joins.
"""

from __future__ import annotations

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
from datalakes_and_data_integration_spark.plans._util import (
    T,
    doubled_midranks,
    spread,
)
from datalakes_and_data_integration_spark.plans.registry import register

_TOK_SPARK = tokens_sql_spark("text")
_TOK_DUCK = tokens_sql_duck("text")

_DSIR_SEED = 23
_DSIR_BUCKETS = 4096
_TARGET_LANG = "en"
# Smoothed per-mille likelihood ratio, all int64. Add-ONE smoothing with
# V=4096 buckets would dwarf small-corpus counts (measured: en mean 425
# vs rest 405 — signal washed out); smoothing strength 1/SMOOTH keeps
# the prior at ~V/SMOOTH=4 pseudo-docs. Two-step fixed-point division
# (per-micro frequencies, then the per-mille ratio) keeps every
# intermediate under 2^63 out to ~1e9 docs; both engines run the same
# two steps, so the rounding is shared and the hash matches.
_DSIR_SMOOTH = 1024
_DSIR_MICRO = 1_000_000


def _dsir_ratio_sql(div: str, n_target: str, n_raw: str) -> str:
    """The smoothed per-mille ratio over t_cnt/r_cnt columns; ``div`` is
    the engine's integer-division operator ('div' Spark, '//' DuckDB);
    the corpus sizes arrive as SQL snippets (literals on the Spark side,
    scalar subqueries in the oracle)."""
    s, v, m = _DSIR_SMOOTH, _DSIR_BUCKETS, _DSIR_MICRO
    tf = f"(({m} * ({s} * t_cnt + 1)) {div} ({s} * {n_target} + {v}))"
    rf = f"(({m} * ({s} * r_cnt + 1)) {div} ({s} * {n_raw} + {v}))"
    # greatest(rf, 1): past ~1e6 raw docs a df-1 bucket's fixed-point
    # raw frequency truncates to 0, and a 0 divisor is NULL in BOTH
    # engines (non-ANSI Spark and DuckDB agree) — the hash gate can
    # never catch it, while sum() skips the NULL and silently deflates
    # exactly the rarest (most informative) features. The guard
    # saturates those features at ratio = 1000*tf instead (direction
    # preserved: rare-in-raw & present-in-target scores high).
    return f"((1000 * {tf}) {div} greatest({rf}, 1))"


def _dsir_oracle() -> str:
    h = hash60_sql_duck("g", seed=_DSIR_SEED)
    sh2 = shingles_sql_duck("toks", 2)
    return f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, lang, {_TOK_DUCK} AS toks FROM documents
    ),
    feats AS MATERIALIZED (
      SELECT doc_id, lang, f
      FROM (
        SELECT doc_id, lang,
               list_distinct(list_transform(
                 list_concat(list_distinct(toks), {sh2}),
                 g -> {h} % {_DSIR_BUCKETS})) AS fs
        FROM toks
      ), UNNEST(fs) AS u(f)
    ),
    n AS (
      SELECT count(*) AS n_raw,
             sum(CASE WHEN lang = '{_TARGET_LANG}' THEN 1 ELSE 0 END)
               AS n_target
      FROM documents
    ),
    stats AS MATERIALIZED (
      SELECT f,
             count(*) AS r_cnt,
             sum(CASE WHEN lang = '{_TARGET_LANG}' THEN 1 ELSE 0 END)
               AS t_cnt
      FROM feats GROUP BY f
    )
    SELECT fe.doc_id,
           min(fe.lang) AS lang,
           count(*) AS n_feats,
           CAST(sum({_dsir_ratio_sql("//", "(SELECT n_target FROM n)", "(SELECT n_raw FROM n)")})
                // count(*) AS BIGINT) AS dsir_permille
    FROM feats fe JOIN stats s ON s.f = fe.f
    GROUP BY fe.doc_id
    """


@register(
    "importance_resampling_weights",
    oracle=_dsir_oracle(),
    description="DSIR-shaped importance weights (Xie et al. 2023) for "
    f"selecting raw documents toward a target domain (lang="
    f"'{_TARGET_LANG}'): distinct word unigrams + bigrams hash into "
    f"{_DSIR_BUCKETS} shared buckets (the hashed-n-gram trick that keeps "
    "the statistic bounded on an unbounded corpus); per bucket, 1/1024-"
    "strength-smoothed target-vs-raw document frequencies in two-step "
    "int64 fixed point (shared rounding, no overflow out to ~1e9 docs); "
    "per document, the "
    "AVERAGE per-mille likelihood ratio over its features — an integer-"
    "exact monotone surrogate for DSIR's log-ratio sum (ln is not "
    "correctly-rounded cross-engine; the float form is a one-line swap "
    "at deployment). >1000 = more target-like than the raw average. "
    "Plan: one shuffle for the bounded bucket table (then broadcast), "
    "one per-doc regroup; the corpus never self-joins, so the shape "
    "survives a raw-CommonCrawl-sized input.",
    tags=("curation", "sampling", "dsir", "llm-pipeline"),
    bench=True,  # promoted r7 s4: the data-selection flagship
)
def importance_resampling_weights(spark, sf_dir):
    docs = T(spark, sf_dir, "documents")
    n_raw, n_target = docs.agg(
        F.count("*"),
        F.sum(F.when(F.col("lang") == _TARGET_LANG, 1).otherwise(0)),
    ).collect()[0]  # scale-ok: 2 scalars (corpus sizes)
    h = hash60_sql_spark("g", seed=_DSIR_SEED)
    sh2 = shingles_expr_spark("toks", 2)
    feats = (
        spread(
            docs.select("doc_id", "lang", F.expr(_TOK_SPARK).alias("toks")),
            spark,
        )
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.expr(
                    f"array_distinct(transform("
                    f"concat(array_distinct(toks), {sh2}), "
                    f"g -> {h} % {_DSIR_BUCKETS}))"
                )
            ).alias("f"),
        )
        .persist()  # consumed by the bucket counts AND the scoring join
    )
    stats = F.broadcast(
        feats.groupBy("f").agg(
            F.count("*").alias("r_cnt"),
            F.sum(
                F.when(F.col("lang") == _TARGET_LANG, 1).otherwise(0)
            ).alias("t_cnt"),
        )
    )
    ratio = _dsir_ratio_sql("div", str(int(n_target)), str(int(n_raw)))
    return (
        feats.join(stats, "f")
        .groupBy("doc_id")
        .agg(
            F.min("lang").alias("lang"),
            F.count("*").alias("n_feats"),
            F.expr(f"CAST(sum({ratio}) div count(*) AS BIGINT)").alias(
                "dsir_permille"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Ranking agreement between the two retrieval strategies (truncated RBO).
# ---------------------------------------------------------------------------

# Truncated rank-biased overlap (Webber et al., TOIS'10) at depth 5 with
# persistence p = 1/2 — dyadic, so it is EXACT in integers: RBO_5 =
# sum_d X_d / (2^d * d) where X_d = |A_1..d ∩ B_1..d|. Over the common
# denominator 1920 the per-depth coefficients are 960/240/80/30/12; a
# match first visible at depth m (= max of its two ranks) contributes
# the SUFFIX sum S(m), and identical rankings total 1860 -> normalized
# to 1000 per-mille. (Full RBO extrapolates the tail; the truncation is
# the deliberate, documented difference — exactness over asymptotics.)
_RBO_SUFFIX = {1: 1322, 2: 362, 3: 122, 4: 42, 5: 12}
_RBO_MAX = 1860


def _rbo_case(expr: str) -> str:
    arms = " ".join(
        f"WHEN {m} THEN {s}" for m, s in _RBO_SUFFIX.items()
    )
    return f"(CASE {expr} {arms} ELSE 0 END)"


def _rbo_oracle() -> str:
    from datalakes_and_data_integration_spark.plans.curation6 import (
        _RET_N,
        _RET_OVERLAP_N,
        _RET_TOPK,
        _RRF_K,
        _RRF_SCALE,
        _leg_idf_sql,
        _leg_overlap_sql,
        _retrieval_prelude_sql,
        _shingled_sql,
    )

    case = _rbo_case(
        "CASE WHEN a.rank > h.rank THEN a.rank ELSE h.rank END"
    )
    return f"""
    WITH {_retrieval_prelude_sql()},{_shingled_sql('sh3', _RET_N)},
    {_shingled_sql('sh8', _RET_OVERLAP_N)},
    {_leg_idf_sql('leg_a', 'sh3')},
    {_leg_overlap_sql('leg_b', 'sh8')},
    fused AS (
      SELECT coalesce(a.query_doc_id, b.query_doc_id) AS query_doc_id,
             coalesce(a.doc_id, b.doc_id) AS doc_id,
             CAST(coalesce({_RRF_SCALE} // ({_RRF_K} + a.rank), 0)
                + coalesce({_RRF_SCALE} // ({_RRF_K} + b.rank), 0)
                AS BIGINT) AS rrf_score
      FROM leg_a a
      FULL OUTER JOIN leg_b b
        ON b.query_doc_id = a.query_doc_id AND b.doc_id = a.doc_id
    ),
    hyb AS MATERIALIZED (
      SELECT query_doc_id, doc_id, rank FROM (
        SELECT query_doc_id, doc_id,
               row_number() OVER (PARTITION BY query_doc_id
                                  ORDER BY rrf_score DESC, doc_id) AS rank
        FROM fused
      ) WHERE rank <= {_RET_TOPK}
    ),
    qs AS (
      SELECT DISTINCT query_doc_id FROM leg_a
      UNION
      SELECT DISTINCT query_doc_id FROM hyb
    ),
    agree AS (
      SELECT a.query_doc_id,
             count(*) AS n_common,
             CAST(sum({case}) AS BIGINT) AS s
      FROM leg_a a
      JOIN hyb h ON h.query_doc_id = a.query_doc_id
                AND h.doc_id = a.doc_id
      GROUP BY a.query_doc_id
    )
    SELECT q.query_doc_id,
           CAST(coalesce(g.n_common, 0) AS BIGINT) AS n_common,
           CAST((1000 * coalesce(g.s, 0)) // {_RBO_MAX} AS BIGINT)
             AS rbo5_permille
    FROM qs q LEFT JOIN agree g ON g.query_doc_id = q.query_doc_id
    """


@register(
    "ranking_agreement_rbo",
    oracle=_rbo_oracle(),
    description="Per-query ranking agreement between the two retrieval "
    "strategies — the integer-idf lexical top-5 vs the RRF-fused hybrid "
    "top-5 — as truncated rank-biased overlap (Webber TOIS'10) at "
    "persistence p=1/2, which is DYADIC and therefore integer-exact: a "
    "shared doc first visible at depth m contributes the suffix "
    "coefficient S(m) over denominator 1920, identical prefixes "
    "normalize to 1000 per-mille. Low agreement = the overlap leg is "
    "adding real signal, not noise — the fusion-worthiness diagnostic "
    "run before paying for a second retrieval leg. Plan: both legs are "
    "the bounded posting-list joins; agreement is an equi join of two "
    "k-row-per-query frames on (query, doc) + one regroup.",
    tags=("text", "retrieval", "rank-fusion", "eval", "llm-pipeline"),
)
def ranking_agreement_rbo(spark, sf_dir):
    from datalakes_and_data_integration_spark.plans.curation6 import (
        hybrid_retrieval_rrf,
        lexical_topk_retrieval,
    )

    # ONE idf-leg computation serves both the lexical ranking and the
    # hybrid's leg_a (the pairs=/shingled= sharing discipline).
    leg = lexical_topk_retrieval(spark, sf_dir).persist()
    lex = leg.select(
        "query_doc_id", "doc_id", F.col("rank").alias("rank_a")
    )
    hyb = hybrid_retrieval_rrf(spark, sf_dir, leg_a=leg).select(
        "query_doc_id", "doc_id", F.col("rank").alias("rank_h")
    )
    case = _rbo_case("greatest(rank_a, rank_h)")
    agree = (
        lex.join(hyb, ["query_doc_id", "doc_id"])
        .groupBy("query_doc_id")
        .agg(
            F.count("*").alias("n_common"),
            F.expr(f"CAST(sum({case}) AS BIGINT)").alias("s"),
        )
    )
    qs = (
        lex.select("query_doc_id")
        .unionByName(hyb.select("query_doc_id"))
        .distinct()
    )
    return qs.join(agree, "query_doc_id", "left_outer").select(
        "query_doc_id",
        F.coalesce("n_common", F.lit(0)).cast("long").alias("n_common"),
        F.expr(f"CAST((1000 * coalesce(s, 0)) div {_RBO_MAX} AS BIGINT)")
        .alias("rbo5_permille"),
    )


# ---------------------------------------------------------------------------
# Quality-scorer agreement: which filter do you trust? Pairwise exact
# Spearman between the three independent per-document quality signals.
# ---------------------------------------------------------------------------

_QSA_PAIRS = (
    ("quality", "cross_entropy"),
    ("quality", "rarity"),
    ("cross_entropy", "rarity"),
)


def _qsa_oracle() -> str:
    from datalakes_and_data_integration_spark.plans.registry import QUERIES

    q1 = QUERIES["text_quality_score"].oracle
    q2 = QUERIES["ngram_lm_perplexity"].oracle
    q3 = QUERIES["doc_rarity_score"].oracle

    def ranked(i: int, src: str, col: str) -> str:
        # doubled midranks: ranks cb+1..cb+cnt for a tied score value
        # average to (2*cb + cnt + 1) / 2 — doubled keeps them integer
        return f"""
    g{i} AS (SELECT {col} AS sc, count(*) AS cnt FROM {src} GROUP BY 1),
    w{i} AS (
      SELECT sc, cnt,
             CAST(coalesce(sum(cnt) OVER (ORDER BY sc
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cb
      FROM g{i}
    ),
    d{i} AS (
      SELECT s.doc_id, 2 * w.cb + w.cnt + 1 AS dm
      FROM {src} s JOIN w{i} w ON w.sc = s.{col}
    )"""

    def leg(a: str, b: str, da: str, db: str) -> str:
        return f"""
      SELECT '{a}' AS scorer_a, '{b}' AS scorer_b,
             CAST(count(*) AS BIGINT) AS n_docs,
             round(
               (CAST(count(*) AS DOUBLE)
                  * CAST(sum(CAST({da}.dm AS DECIMAL(18,0))
                             * CAST({db}.dm AS DECIMAL(18,0))) AS DOUBLE)
                - CAST(sum(CAST({da}.dm AS DECIMAL(18,0))) AS DOUBLE)
                  * CAST(sum(CAST({db}.dm AS DECIMAL(18,0))) AS DOUBLE))
               / sqrt(
                 (CAST(count(*) AS DOUBLE)
                    * CAST(sum(CAST({da}.dm AS DECIMAL(18,0))
                               * CAST({da}.dm AS DECIMAL(18,0))) AS DOUBLE)
                  - CAST(sum(CAST({da}.dm AS DECIMAL(18,0))) AS DOUBLE)
                    * CAST(sum(CAST({da}.dm AS DECIMAL(18,0))) AS DOUBLE))
                 * (CAST(count(*) AS DOUBLE)
                    * CAST(sum(CAST({db}.dm AS DECIMAL(18,0))
                               * CAST({db}.dm AS DECIMAL(18,0))) AS DOUBLE)
                  - CAST(sum(CAST({db}.dm AS DECIMAL(18,0))) AS DOUBLE)
                    * CAST(sum(CAST({db}.dm AS DECIMAL(18,0))) AS DOUBLE))),
               6) AS spearman_rho
      FROM d1 JOIN d2 ON d2.doc_id = d1.doc_id
      JOIN d3 ON d3.doc_id = d1.doc_id"""

    names = {"quality": "d1", "cross_entropy": "d2", "rarity": "d3"}
    legs = " UNION ALL ".join(
        leg(a, b, names[a], names[b]) for a, b in _QSA_PAIRS
    )
    return f"""
    WITH qs1 AS ({q1}),
    qs2 AS ({q2}),
    qs3 AS ({q3}),
    {ranked(1, 'qs1', 'quality')},
    {ranked(2, 'qs2', 'cross_entropy')},
    {ranked(3, 'qs3', 'rarity')}
    {legs}
    """


@register(
    "quality_scorer_agreement",
    oracle=_qsa_oracle(),
    description="Quality-scorer agreement audit — the 'which filter do "
    "you trust' table a curation pipeline reads before composing "
    "filters: pairwise EXACT Spearman rank correlation between the "
    "three independent per-document quality signals (heuristic "
    "quality score, bigram-LM cross-entropy, document rarity), "
    "computed on integer doubled midranks (ties get the exact "
    "midrank, the mannwhitney recipe) with exact-decimal sums cast to "
    "double only for the final Pearson-on-ranks formula — "
    "deterministic cross-engine. Low |rho| means the filters capture "
    "DIFFERENT failure modes (compose them); high |rho| means one is "
    "redundant. Shape: three scorer passes (each one scan), midranks "
    "from DISTINCT-value cumulative counts (bounded sort), one "
    "doc-keyed join, three aggregate legs over it.",
    tags=("quality", "audit", "statistics", "llm-pipeline"),
)
def quality_scorer_agreement(spark, sf_dir):
    from datalakes_and_data_integration_spark.plans.curation2 import (
        doc_rarity_score,
    )
    from datalakes_and_data_integration_spark.plans.lm import (
        ngram_lm_perplexity,
    )
    from datalakes_and_data_integration_spark.plans.text import (
        text_quality_score,
    )

    def ranks(df, col):
        g = df.groupBy(F.col(col).alias("sc")).agg(F.count("*").alias("cnt"))
        return df.select("doc_id", F.col(col).alias("sc")).join(
            doubled_midranks(g, "sc"), "sc"
        ).select("doc_id", "dm")

    d1 = ranks(text_quality_score(spark, sf_dir), "quality")
    d2 = ranks(ngram_lm_perplexity(spark, sf_dir), "cross_entropy")
    d3 = ranks(doc_rarity_score(spark, sf_dir), "rarity")
    joined = (
        d1.withColumnRenamed("dm", "dm1")
        .join(d2.withColumnRenamed("dm", "dm2"), "doc_id")
        .join(d3.withColumnRenamed("dm", "dm3"), "doc_id")
        .persist()  # three aggregate legs read it
    )

    def leg(a, b, ca, cb_):
        dmA = F.col(ca).cast("decimal(18,0)")
        dmB = F.col(cb_).cast("decimal(18,0)")
        agg = joined.agg(
            F.count("*").alias("n"),
            F.sum(dmA * dmB).alias("sab"),
            F.sum(dmA).alias("sa"),
            F.sum(dmB).alias("sb"),
            F.sum(dmA * dmA).alias("saa"),
            F.sum(dmB * dmB).alias("sbb"),
        )
        n = F.col("n").cast("double")
        sab = F.col("sab").cast("double")
        sa = F.col("sa").cast("double")
        sb = F.col("sb").cast("double")
        saa = F.col("saa").cast("double")
        sbb = F.col("sbb").cast("double")
        return agg.select(
            F.lit(a).alias("scorer_a"),
            F.lit(b).alias("scorer_b"),
            F.col("n").cast("long").alias("n_docs"),
            F.round(
                (n * sab - sa * sb)
                / F.sqrt((n * saa - sa * sa) * (n * sbb - sb * sb)),
                6,
            ).alias("spearman_rho"),
        )

    cols = {"quality": "dm1", "cross_entropy": "dm2", "rarity": "dm3"}
    out = None
    for a, b in _QSA_PAIRS:
        piece = leg(a, b, cols[a], cols[b])
        out = piece if out is None else out.unionByName(piece)
    return out


# ---------------------------------------------------------------------------
# PMI collocation mining (round-9 third session): which adjacent token
# pairs co-occur far above chance — the classic collocation/phrase-
# detection statistic (Church & Hanks 1990; the same association score
# word2vec's phrase pass and topic pipelines use). PMI = ln(P(ab) /
# (P(a)P(b))) = ln(n_ab * N / (n_a * n_b)). Determinism follows the
# term_domain_signature rule: rank on the RATIO (n_ab*N)/(n_a*n_b) —
# exact integers below 2^53 on both sides of the division, so the
# double is correctly rounded and identical cross-engine — and only
# DISPLAY ln(ratio); no transcendental ever decides an ordering.
# ---------------------------------------------------------------------------

_PMI_TOPK = 20
_PMI_MIN = 5  # drop ultra-rare bigrams (PMI is pure noise there)


def _pmi_oracle() -> str:
    return f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, {tokens_sql_duck("text")} AS t FROM documents
    ),
    bigrams AS MATERIALIZED (
      SELECT t[i.i] AS tok_a, t[i.i + 1] AS tok_b,
             CAST(count(*) AS BIGINT) AS n_ab
      FROM toks, (SELECT unnest(range(1, 100000)) AS i) i
      WHERE i.i < len(t)
      GROUP BY 1, 2
    ),
    uni AS MATERIALIZED (
      SELECT tok, CAST(count(*) AS BIGINT) AS n_tok FROM (
        SELECT unnest(t) AS tok FROM toks
      ) GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n_ab) AS BIGINT) AS n FROM bigrams),
    scored AS (
      SELECT b.tok_a, b.tok_b, b.n_ab,
             CAST(b.n_ab * t.n AS DOUBLE)
               / CAST(ua.n_tok * ub.n_tok AS DOUBLE) AS ratio
      FROM bigrams b
      JOIN uni ua ON ua.tok = b.tok_a
      JOIN uni ub ON ub.tok = b.tok_b
      CROSS JOIN tot t
      WHERE b.n_ab >= {_PMI_MIN}
    )
    SELECT tok_a, tok_b, n_ab, round(ln(ratio), 6) AS pmi
    FROM scored
    ORDER BY ratio DESC, tok_a, tok_b
    LIMIT {_PMI_TOPK}
    """


@register(
    "token_pmi_collocations",
    oracle=_pmi_oracle(),
    description=f"PMI collocation mining: the top-{_PMI_TOPK} adjacent "
    "token pairs by pointwise mutual information ln(n_ab*N/(n_a*n_b)) "
    f"with a min-count {_PMI_MIN} floor — the Church-&-Hanks "
    "association statistic behind phrase detection (word2vec's phrase "
    "pass) and domain-vocabulary discovery. Ranking follows the "
    "term_domain_signature determinism rule: order on the exact-"
    "integer-ratio double (all products < 2^53, so the division is "
    "correctly rounded and bit-identical cross-engine) with a full "
    "lexicographic tie-break, and ln only DISPLAYS the score. Scale: "
    "one tokenize scan feeds both the bigram and unigram counts "
    "(map-side combined); the two unigram joins hash on token; the "
    "top-k is a TakeOrdered partial sort, never a global one.",
    tags=("text", "nlp", "collocation", "llm-pipeline"),
)
def token_pmi_collocations(spark, sf_dir):
    from datalakes_and_data_integration_spark.functions.text import tokens

    d = T(spark, sf_dir, "documents")
    toks = spread(
        d.select("doc_id", tokens("text").alias("t")), spark
    ).persist()  # bigram + unigram passes share the tokenize scan
    bigrams = (
        toks.select(
            F.explode(
                F.arrays_zip(
                    F.expr("slice(t, 1, size(t) - 1)"),
                    F.expr("slice(t, 2, size(t) - 1)"),
                )
            ).alias("p")
        )
        .select(F.col("p.0").alias("tok_a"), F.col("p.1").alias("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count("*").cast("long").alias("n_ab"))
        .persist()  # total + scoring read it
    )
    uni = (
        toks.select(F.explode("t").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("n_tok"))
    )
    tot = bigrams.agg(F.sum("n_ab").cast("long").alias("n"))
    ua = uni.select(
        F.col("tok").alias("tok_a"), F.col("n_tok").alias("na")
    )
    ub = uni.select(
        F.col("tok").alias("tok_b"), F.col("n_tok").alias("nb")
    )
    scored = (
        bigrams.where(F.col("n_ab") >= _PMI_MIN)
        .join(ua, "tok_a")
        .join(ub, "tok_b")
        .crossJoin(F.broadcast(tot))  # scale-ok: 1-row bigram total
        .selectExpr(
            "tok_a",
            "tok_b",
            "n_ab",
            "CAST(n_ab * n AS DOUBLE) / CAST(na * nb AS DOUBLE) AS ratio",
        )
    )
    return (
        scored.orderBy(F.col("ratio").desc(), "tok_a", "tok_b")
        .limit(_PMI_TOPK)
        .selectExpr("tok_a", "tok_b", "n_ab", "round(ln(ratio), 6) AS pmi")
    )
