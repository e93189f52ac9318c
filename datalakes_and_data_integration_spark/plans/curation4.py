"""Round-3 third-session curation additions — the remaining backlog of
training-data-pipeline operators (NOTES.md round-4 build backlog, pulled
forward):

- Gopher-style composite quality-rule report (Rae et al. 2021 §A1.1 shape:
  independent pass/fail rules per document, aggregated per source x lang) —
  thresholds recalibrated to what actually varies in this corpus, every
  comparison cross-multiplied to exact int64;
- temperature-scaled source mixture plan (the mT5/XLM-R alpha=0.5 sampling
  knob) with Hamilton largest-remainder apportionment of the document
  budget — integer-exact via floor-scaled sqrt weights;
- BPE tokenizer APPLICATION: encode the corpus with the merge table learned
  by curation3.bpe_merge_learning and report per-language token statistics
  (the train-then-tokenize composition every LLM pipeline runs).

All oracle-checked. Registration order puts them after the round-3 driver
window (rotate into WINDOW_PRIORITY in round 4/5).

Determinism notes follow the house rules (plans/_util.py, NOTES.md):
integer cross-multiplication instead of ratio thresholds, decimal-routed
ROUND for display ratios, sqrt allowed because IEEE-754 sqrt is correctly
rounded in every engine and the downstream sum is over floor-scaled int64.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from datalakes_and_data_integration_spark.functions.text import (
    STOPWORDS,
    tokens_sql_duck,
    tokens_sql_spark,
)
from datalakes_and_data_integration_spark.plans._util import (
    T,
    doubled_midranks,
    r6,
    spread,
)
from datalakes_and_data_integration_spark.plans.ml import (
    _split_pred_duck,
    _split_pred_spark,
)
from datalakes_and_data_integration_spark.plans.registry import register
from datalakes_and_data_integration_spark.plans.similarity import (
    _FX_C,
    _fx_term,
)

_TOK_SPARK = tokens_sql_spark("text")
_TOK_DUCK = tokens_sql_duck("text")

# ---------------------------------------------------------------------------
# Gopher-style quality rules. The published rule set keys on symbol ratio /
# alphabetic-word fraction / bullet lines; this corpus is synthetic word
# salad (no punctuation, fully alphabetic), so the discriminating rules are
# calibrated to what varies here while keeping the published *shape*
# (independent boolean rules, document fails the composite if any rule
# fails):
#   brevity     n_tok >= 50            (Gopher: 50 <= words <= 100k)
#   word_len    mean word length >= 4.5   as 2*wchars >= 9*n_tok
#   repetition  distinct-token ratio >= 0.4  as 5*dtok >= 2*n_tok
#               (Gopher's duplicate-fraction family)
#   stopword    >= 2 stopword hits (union lexicon, with multiplicity)
# Every threshold is an exact int64 comparison — no float ratio ever
# crosses an engine boundary.
#
# Scale: one scan, tokenize is partition-local, the only shuffle is the
# (source x lang) grouped sum with map-side combine. At 100 TB this is a
# single pass over the corpus producing a dim-sized report.
# ---------------------------------------------------------------------------

_SW_UNION = sorted({w for ws in STOPWORDS.values() for w in ws})


def _gopher_oracle() -> str:
    lst = ", ".join(f"'{w}'" for w in _SW_UNION)
    return f"""
    WITH tok AS (
      SELECT source, lang, {_TOK_DUCK} AS toks FROM documents
    ),
    feats AS (
      SELECT source, lang,
             CAST(len(toks) AS BIGINT) AS n_tok,
             CAST(coalesce(list_sum(list_transform(toks,
                    t -> CAST(length(t) AS BIGINT))), 0) AS BIGINT) AS wchars,
             CAST(len(list_distinct(toks)) AS BIGINT) AS dtok,
             CAST(len(list_filter(toks, t -> list_contains([{lst}], t)))
                  AS BIGINT) AS sw
      FROM tok
    ),
    flags AS (
      SELECT source, lang,
             CASE WHEN n_tok >= 50 THEN 0 ELSE 1 END AS f_brev,
             CASE WHEN 2 * wchars >= 9 * n_tok THEN 0 ELSE 1 END AS f_wlen,
             CASE WHEN 5 * dtok >= 2 * n_tok THEN 0 ELSE 1 END AS f_rep,
             CASE WHEN sw >= 2 THEN 0 ELSE 1 END AS f_sw
      FROM feats
    )
    SELECT source, lang, count(*) AS n_docs,
           CAST(sum(f_brev) AS BIGINT) AS fail_brevity,
           CAST(sum(f_wlen) AS BIGINT) AS fail_word_len,
           CAST(sum(f_rep) AS BIGINT) AS fail_repetition,
           CAST(sum(f_sw) AS BIGINT) AS fail_stopword,
           CAST(sum(CASE WHEN f_brev + f_wlen + f_rep + f_sw = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_all
    FROM flags GROUP BY source, lang
    """


@register(
    "gopher_quality_rules",
    oracle=_gopher_oracle(),
    description="Gopher-style composite quality-rule report per (source, "
    "lang): four independent boolean rules — brevity (>=50 tokens), mean "
    "word length (>=4.5), repetition (distinct-token ratio >=0.4), "
    "stopword presence (>=2 hits against the union lexicon) — with every "
    "threshold cross-multiplied to exact int64, plus the all-rules-pass "
    "count. One corpus scan, one dim-sized grouped sum; the keep/drop "
    "rulebook evidence a curation pipeline publishes next to its corpus.",
    tags=("curation", "quality", "rules", "llm-pipeline"),
)
def gopher_quality_rules(spark, sf_dir):
    d = spread(T(spark, sf_dir, "documents"), spark)
    lst = ", ".join(f"'{w}'" for w in _SW_UNION)
    feats = d.select(
        "source",
        "lang",
        F.expr(f"CAST(size({_TOK_SPARK}) AS BIGINT)").alias("n_tok"),
        F.expr(
            f"aggregate(transform({_TOK_SPARK}, t -> CAST(length(t) AS "
            f"BIGINT)), 0L, (a, x) -> a + x)"
        ).alias("wchars"),
        F.expr(
            f"CAST(size(array_distinct({_TOK_SPARK})) AS BIGINT)"
        ).alias("dtok"),
        F.expr(
            f"CAST(size(filter({_TOK_SPARK}, "
            f"t -> array_contains(array({lst}), t))) AS BIGINT)"
        ).alias("sw"),
    )
    flags = feats.select(
        "source",
        "lang",
        F.when(F.col("n_tok") >= 50, 0).otherwise(1).alias("f_brev"),
        F.when(2 * F.col("wchars") >= 9 * F.col("n_tok"), 0)
        .otherwise(1)
        .alias("f_wlen"),
        F.when(5 * F.col("dtok") >= 2 * F.col("n_tok"), 0)
        .otherwise(1)
        .alias("f_rep"),
        F.when(F.col("sw") >= 2, 0).otherwise(1).alias("f_sw"),
    )
    return flags.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("f_brev").cast("long").alias("fail_brevity"),
        F.sum("f_wlen").cast("long").alias("fail_word_len"),
        F.sum("f_rep").cast("long").alias("fail_repetition"),
        F.sum("f_sw").cast("long").alias("fail_stopword"),
        F.sum(
            F.when(
                F.col("f_brev") + F.col("f_wlen") + F.col("f_rep")
                + F.col("f_sw")
                == 0,
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_pass_all"),
    )


# ---------------------------------------------------------------------------
# Temperature-scaled source mixture plan. Proportional sampling overtrains
# on the largest sources; mixture weights w_s ∝ n_s^alpha with alpha = 0.5
# (the mT5/XLM-R temperature knob) flatten the distribution. The document
# budget is then apportioned by Hamilton largest-remainder so quotas sum to
# exactly the budget.
#
# Determinism: IEEE-754 sqrt is CORRECTLY ROUNDED (same double in -> same
# double out on the JVM, DuckDB, and numpy), and the weight is immediately
# floor-scaled to int64 (w_fixed = floor(sqrt(n) * 1e6)) — so the
# normalizing sum is an order-independent integer sum and everything
# downstream (integer div/mod, remainder ranking) is exact int64. The only
# float op per row is one sqrt and one multiply, both deterministic.
#
# Scale: the cell table is source-cardinality (dim-sized); the corpus scan
# is one map-side-combined count.
# ---------------------------------------------------------------------------

_MIX_BUDGET = 100_000
_MIX_SCALE = 1_000_000


@register(
    "temperature_mixture_plan",
    oracle=f"""
    WITH cells AS (
      SELECT source, count(*) AS n_docs FROM documents GROUP BY source
    ),
    wt AS (
      SELECT source, n_docs,
             CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * {_MIX_SCALE})
                  AS BIGINT) AS w_fixed
      FROM cells
    ),
    tot AS (SELECT CAST(sum(w_fixed) AS BIGINT) AS t FROM wt),
    base AS (
      SELECT w.source, w.n_docs, w.w_fixed,
             ({_MIX_BUDGET} * w.w_fixed) // t.t AS base_q,
             ({_MIX_BUDGET} * w.w_fixed) % t.t AS rem
      FROM wt w CROSS JOIN tot t
    ),
    lo AS (
      SELECT CAST({_MIX_BUDGET} - sum(base_q) AS BIGINT) AS leftover
      FROM base
    ),
    ranked AS (
      SELECT source, n_docs, w_fixed, base_q, rem,
             row_number() OVER (ORDER BY rem DESC, source) AS rk
      FROM base
    )
    SELECT r.source, r.n_docs, r.w_fixed,
           CAST(r.base_q + CASE WHEN r.rk <= l.leftover THEN 1 ELSE 0 END
                AS BIGINT) AS quota_docs,
           CAST(ROUND(CAST(CAST(r.base_q + CASE WHEN r.rk <= l.leftover
                                THEN 1 ELSE 0 END AS DOUBLE) / r.n_docs
                           AS DECIMAL(27,12)), 6) AS DOUBLE)
             AS effective_epochs
    FROM ranked r CROSS JOIN lo l
    """,
    description=f"Temperature-scaled source mixture plan: per-source "
    f"weights n^0.5 (the mT5/XLM-R alpha=0.5 flattening), floor-scaled to "
    f"int64 (x{_MIX_SCALE}) so the normalizing sum is order-independent, "
    f"then Hamilton largest-remainder apportionment of a {_MIX_BUDGET}-doc "
    "budget (quotas sum exactly to the budget; remainder ties break on "
    "source). effective_epochs = quota/n shows which small sources get "
    "upsampled past 1 epoch. IEEE sqrt is correctly rounded, so the one "
    "float op per source is cross-engine exact; everything else is int64.",
    tags=("sampling", "curation", "mixture", "llm-pipeline"),
)
def temperature_mixture_plan(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    cells = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    wt = cells.select(
        "source",
        "n_docs",
        F.floor(F.sqrt(F.col("n_docs").cast("double")) * _MIX_SCALE)
        .cast("long")
        .alias("w_fixed"),
    )
    tot = wt.agg(F.sum("w_fixed").cast("long").alias("t"))
    base = wt.crossJoin(F.broadcast(tot)).select(  # scale-ok: 1-row total
        "source",
        "n_docs",
        "w_fixed",
        F.expr(f"({_MIX_BUDGET} * w_fixed) div t").alias("base_q"),
        (F.lit(_MIX_BUDGET) * F.col("w_fixed") % F.col("t")).alias("rem"),
    )
    lo = base.agg(
        (F.lit(_MIX_BUDGET) - F.sum("base_q")).cast("long").alias("leftover")
    )
    # scale-ok: window over the dim-sized per-source cell table
    wr = Window.orderBy(F.col("rem").desc(), F.col("source"))
    ranked = base.withColumn("rk", F.row_number().over(wr))
    quota = (
        F.col("base_q")
        + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
    ).cast("long")
    return ranked.crossJoin(F.broadcast(lo)).select(  # scale-ok: 1-row
        "source",
        "n_docs",
        "w_fixed",
        quota.alias("quota_docs"),
        r6(quota.cast("double") / F.col("n_docs")).alias("effective_epochs"),
    )


# ---------------------------------------------------------------------------
# BPE tokenizer application: encode the corpus with the merge table that
# curation3.bpe_merge_learning trains, and report per-language token
# statistics under the learned tokenizer. This is the composition every
# LLM pipeline runs — train the tokenizer once, then tokenize everything —
# and it is exactly cross-engine reproducible because the merge semantics
# already are (see curation3's shared-boundary note).
#
# Scale: the vocabulary (word -> symbol count after merges) is
# vocabulary-sized state, joined to the exploded corpus words with a plain
# hash join (vocab may exceed broadcast size at 100 TB — AQE broadcasts it
# when small); tokenize/explode is partition-local; the final per-lang sum
# is map-side combined.
# ---------------------------------------------------------------------------


def _bpe_encode_oracle() -> str:
    from datalakes_and_data_integration_spark.plans.curation3 import (
        _BPE_ROUNDS,
        _bpe_chain_cte,
    )

    body, _ = _bpe_chain_cte()
    return f"""
    WITH {body},
    vocab AS (
      SELECT word,
             CAST(len(list_filter(string_split(sym, '|'), x -> x <> ''))
                  AS BIGINT) AS n_sym
      FROM syms{_BPE_ROUNDS}
    ),
    dw AS (
      SELECT lang, word
      FROM (SELECT lang, unnest({_TOK_DUCK}) AS word FROM documents)
      WHERE word NOT LIKE '%|%'
    )
    SELECT d.lang,
           count(*) AS n_words,
           CAST(sum(length(d.word)) AS BIGINT) AS char_tokens,
           CAST(sum(v.n_sym) AS BIGINT) AS bpe_tokens,
           CAST(sum(length(d.word)) - sum(v.n_sym) AS BIGINT)
             AS tokens_saved,
           CAST(ROUND(CAST(CAST(sum(length(d.word)) AS DOUBLE)
                           / sum(v.n_sym) AS DECIMAL(27,12)), 6) AS DOUBLE)
             AS compression_ratio
    FROM dw d JOIN vocab v ON v.word = d.word
    GROUP BY d.lang
    """


@register(
    "bpe_encode_token_stats",
    oracle=_bpe_encode_oracle(),
    description="BPE tokenizer application: the corpus re-tokenized with "
    "the merge table learned by bpe_merge_learning (same left-to-right "
    "replace-scan semantics, so both engines encode identically), "
    "reported per language — character-level vs post-merge token counts, "
    "tokens saved, compression ratio (decimal-routed). The trained "
    "vocabulary is word-level state joined to the exploded corpus with a "
    "plain hash join (AQE broadcasts when small); the train-then-encode "
    "composition every LLM pipeline runs.",
    tags=("text", "tokenizer", "bpe", "llm-pipeline"),
)
def bpe_encode_token_stats(spark, sf_dir):
    from datalakes_and_data_integration_spark.plans.curation3 import (
        bpe_learn,
    )

    _, syms = bpe_learn(spark, sf_dir)
    vocab = syms.select(
        "word",
        F.expr(
            "CAST(size(filter(split(sym, '\\\\|'), x -> x != '')) AS BIGINT)"
        ).alias("n_sym"),
    )
    # The learned replaces are baked into the plan as driver literals, so
    # dropping the learning-loop cache just trades a cheap vocab recompute
    # for not leaking cached state across registry queries.
    syms.unpersist()
    dw = (
        spread(T(spark, sf_dir, "documents"), spark)
        .select("lang", F.explode(F.expr(_TOK_SPARK)).alias("word"))
        .filter(~F.col("word").contains("|"))
    )
    joined = dw.join(vocab, "word")
    return joined.groupBy("lang").agg(
        F.count("*").alias("n_words"),
        F.sum(F.length("word")).cast("long").alias("char_tokens"),
        F.sum("n_sym").cast("long").alias("bpe_tokens"),
        (F.sum(F.length("word")) - F.sum("n_sym"))
        .cast("long")
        .alias("tokens_saved"),
        r6(F.sum(F.length("word")).cast("double") / F.sum("n_sym"))
        .alias("compression_ratio"),
    )


# ---------------------------------------------------------------------------
# Nearest-centroid (Rocchio) classifier evaluation. The centroid family
# (label_centroids / label_centroid_distances) measures geometry; this
# query closes the loop into a classifier eval: train per-label centroids
# on the deterministic md5 80% split, assign each held-out vector to its
# nearest centroid, report the confusion matrix.
#
# Exactness: centroids in the IVF fixed-point recipe (per-dim
# floor(sum(floor(x*1e9))/n) int64), distances as the house fx_term sums,
# argmin with label tiebreak — every comparison is int64, so both engines
# classify identically. Unlike the k-means queries there is NO driver
# literal: centroids stay a 10x64-row frame, the whole eval is joins.
#
# Scale: the centroid table is dim-sized (broadcast); the test-side join
# fans each held-out vector out to 64*10 term rows, and the one real
# shuffle is the (vec, label_pred) distance sum with map-side combine.
# ---------------------------------------------------------------------------


def _ncc_oracle() -> str:
    train_pred, test_pred = _split_pred_duck()
    return f"""
    WITH dims AS MATERIALIZED (
      SELECT vec_id, label, d.i AS i, CAST(embedding[d.i] AS DOUBLE) AS x
      FROM embeddings, (SELECT unnest(range(1, 65)) AS i) d
    ),
    cent AS MATERIALIZED (
      SELECT label AS label_pred, i,
             CAST(floor(CAST(sum(CAST(floor(x * {_FX_C}) AS BIGINT))
                             AS DOUBLE) / count(*)) AS BIGINT) AS ms
      FROM dims WHERE {train_pred}
      GROUP BY label, i
    ),
    test AS (
      SELECT vec_id, label AS label_true, i, x
      FROM dims WHERE {test_pred}
    ),
    dist AS (
      SELECT t.vec_id, t.label_true, c.label_pred,
             sum({_fx_term('t.x', 'c.ms')}) AS d2
      FROM test t JOIN cent c ON c.i = t.i
      GROUP BY t.vec_id, t.label_true, c.label_pred
    ),
    assigned AS (
      SELECT vec_id, label_true, label_pred,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY d2, label_pred) AS rn
      FROM dist
    )
    SELECT label_true, label_pred, count(*) AS n
    FROM assigned WHERE rn = 1
    GROUP BY label_true, label_pred
    """


@register(
    "centroid_classifier_eval",
    oracle=_ncc_oracle(),
    description="Nearest-centroid (Rocchio) classifier eval: per-label "
    "centroids trained on the deterministic md5 80% split in the IVF "
    "int64 fixed-point recipe, each held-out (>=90 bucket) vector "
    "assigned to its nearest centroid by exact int64 distance sums "
    "(label tiebreak), reported as a confusion matrix. No driver "
    "literals — centroids stay a dim-sized frame (broadcast join) and "
    "the eval is one fan-out join plus one map-side-combined shuffle; "
    "the class-separability baseline every embedding pipeline reports "
    "before reaching for a trained head (compare logreg_confusion).",
    tags=("ml", "embedding", "classifier", "evaluation", "llm-pipeline"),
)
def centroid_classifier_eval(spark, sf_dir):
    train_pred, test_pred = _split_pred_spark()
    e = T(spark, sf_dir, "embeddings")
    dims = e.select(
        "vec_id",
        "label",
        F.posexplode(
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
        ).alias("p", "x"),
    ).select("vec_id", "label", (F.col("p") + 1).alias("i"), "x")
    cent = (
        dims.where(train_pred)
        .groupBy(F.col("label").alias("label_pred"), "i")
        .agg(
            F.expr(
                f"CAST(floor(CAST(sum(CAST(floor(x * {_FX_C}) AS "
                f"BIGINT)) AS DOUBLE) / count(*)) AS BIGINT)"
            ).alias("ms")
        )
    )
    test = dims.where(test_pred).select(
        "vec_id", F.col("label").alias("label_true"), "i", "x"
    )
    dist = (
        test.join(F.broadcast(cent), "i")
        .groupBy("vec_id", "label_true", "label_pred")
        .agg(F.sum(F.expr(_fx_term("x", "ms"))).alias("d2"))
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "label_pred")
    return (
        dist.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("label_true", "label_pred")
        .agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# Per-source lexical domain signature: which terms mark a source's text as
# ITS OWN (the domain-mixture diagnostic next to source_lang_entropy —
# "what is src7 actually made of"). Score = Haldane-smoothed odds ratio
# of term frequency in the source vs the rest of the corpus:
#     odds = ((2a+1) * (2(B-b)+1)) / ((2(A-a)+1) * (2b+1))
# with a/b the term counts in/out of the source and A/B the token totals.
# Determinism without transcendentals: the products stay below 2^53, so
# the odds value is an exact-integer-ratio double (correctly rounded
# division of exactly representable integers) — both engines rank and
# display the SAME doubles; no ln() ever crosses an engine boundary
# (log-odds is monotone in odds, so the ranking is the log-odds ranking).
#
# Scale: one tokenize scan -> (source, term) counts (map-side combined);
# totals are a dim-sized broadcast; top-k per source is a bounded window
# over the per-source term lists.
# ---------------------------------------------------------------------------

_SIG_TOPK = 10
_SIG_MIN_COUNT = 5  # ignore ultra-rare terms (odds ratio is noise there)


@register(
    "term_domain_signature",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest({_TOK_DUCK}) AS term FROM documents
    ),
    st AS (
      SELECT source, term, count(*) AS a FROM tok GROUP BY source, term
    ),
    tt AS (SELECT term, CAST(sum(a) AS BIGINT) AS t FROM st GROUP BY term),
    totals AS (
      SELECT source, CAST(sum(a) AS BIGINT) AS atot FROM st GROUP BY source
    ),
    grand AS (SELECT CAST(sum(a) AS BIGINT) AS g FROM st),
    scored AS (
      SELECT s.source, s.term, s.a,
             (t.t - s.a) AS b,
             CAST((2 * s.a + 1) AS DOUBLE)
               * ((2 * (g.g - o.atot - (t.t - s.a))) + 1)
               / (((2 * (o.atot - s.a)) + 1)
                  * CAST((2 * (t.t - s.a) + 1) AS DOUBLE)) AS odds
      FROM st s
      JOIN tt t ON t.term = s.term
      JOIN totals o ON o.source = s.source
      CROSS JOIN grand g
      WHERE s.a >= {_SIG_MIN_COUNT}
    ),
    ranked AS (
      SELECT source, term, a, b, odds,
             row_number() OVER (PARTITION BY source
                                ORDER BY odds DESC, term) AS rk
      FROM scored
    )
    SELECT source, term, CAST(a AS BIGINT) AS n_in_source,
           CAST(b AS BIGINT) AS n_elsewhere, rk,
           CAST(ROUND(CAST(odds AS DECIMAL(27,12)), 6) AS DOUBLE)
             AS odds_ratio
    FROM ranked WHERE rk <= {_SIG_TOPK}
    """,
    description=f"Per-source lexical domain signature: top {_SIG_TOPK} "
    "terms per source by Haldane-smoothed odds ratio of in-source vs "
    "rest-of-corpus frequency (min count "
    f"{_SIG_MIN_COUNT}). The odds value is an exact-integer-ratio double "
    "(products < 2^53, one correctly-rounded division), so both engines "
    "rank identically with no transcendental on the comparison — the "
    "what-is-this-source-made-of diagnostic next to source_lang_entropy. "
    "One tokenize scan, map-side-combined term counts, dim-sized totals "
    "broadcast, bounded per-source top-k window.",
    tags=("text", "drift", "domain", "llm-pipeline"),
)
def term_domain_signature(spark, sf_dir):
    d = spread(T(spark, sf_dir, "documents"), spark)
    tok = d.select("source", F.explode(F.expr(_TOK_SPARK)).alias("term"))
    st = tok.groupBy("source", "term").agg(F.count("*").alias("a"))
    tt = st.groupBy("term").agg(F.sum("a").cast("long").alias("t"))
    totals = st.groupBy("source").agg(
        F.sum("a").cast("long").alias("atot")
    )
    grand = st.agg(F.sum("a").cast("long").alias("g"))
    b = F.col("t") - F.col("a")
    odds = (
        (2 * F.col("a") + 1).cast("double")
        * ((2 * (F.col("g") - F.col("atot") - b)) + 1)
        / (
            ((2 * (F.col("atot") - F.col("a"))) + 1)
            * (2 * b + 1).cast("double")
        )
    )
    scored = (
        st.filter(F.col("a") >= _SIG_MIN_COUNT)
        .join(tt, "term")
        .join(F.broadcast(totals), "source")
        .crossJoin(F.broadcast(grand))  # scale-ok: 1-row grand total
        .select("source", "term", "a", b.alias("b"), odds.alias("odds"))
    )
    w = Window.partitionBy("source").orderBy(F.col("odds").desc(), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _SIG_TOPK)
        .select(
            "source",
            "term",
            F.col("a").cast("long").alias("n_in_source"),
            F.col("b").cast("long").alias("n_elsewhere"),
            "rk",
            r6(F.col("odds")).alias("odds_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# Vocabulary coverage curve: what fraction of token OCCURRENCES the top-N
# vocabulary covers, for candidate budgets — the vocab-size knob every
# tokenizer design starts from (the flip side of vocab_growth_curve's
# types-vs-tokens view and vocab_zipf_stats' head ranks). Integer
# cumulative sums over the frequency-ranked vocabulary; coverage is one
# decimal-routed division per budget.
# ---------------------------------------------------------------------------

_VC_BUDGETS = [100, 1000, 10000]


@register(
    "vocab_coverage_curve",
    oracle=f"""
    WITH tc AS (
      SELECT term, count(*) AS c
      FROM (SELECT unnest({_TOK_DUCK}) AS term FROM documents)
      GROUP BY term
    ),
    ranked AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, term) AS rk FROM tc
    ),
    cum AS (
      SELECT rk, CAST(sum(c) OVER (ORDER BY rk) AS BIGINT) AS cum FROM ranked
    ),
    tot AS (
      SELECT CAST(sum(c) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS vocab FROM tc
    )
    SELECT b.budget AS vocab_budget,
           max(c.cum) AS covered_tokens,
           t.total AS total_tokens,
           t.vocab AS vocab_size,
           CAST(ROUND(CAST(CAST(max(c.cum) AS DOUBLE) / t.total
                           AS DECIMAL(27,12)), 6) AS DOUBLE) AS coverage
    FROM cum c CROSS JOIN tot t
    CROSS JOIN (SELECT unnest([{", ".join(map(str, _VC_BUDGETS))}])
                AS budget) b
    WHERE c.rk <= b.budget
    GROUP BY b.budget, t.total, t.vocab
    """,
    description=f"Vocabulary coverage curve: token-occurrence coverage of "
    f"the top-{{{', '.join(map(str, _VC_BUDGETS))}}} frequency-ranked "
    "vocabulary — the vocab-budget knob (how big must the tokenizer "
    "vocabulary be before OOV mass is negligible). Exact int64 "
    "cumulative sums over the ranked vocabulary (a vocab-sized window), "
    "decimal-routed coverage ratios.",
    tags=("text", "tokenizer", "vocabulary", "llm-pipeline"),
)
def vocab_coverage_curve(spark, sf_dir):
    d = spread(T(spark, sf_dir, "documents"), spark)
    tc = (
        d.select(F.explode(F.expr(_TOK_SPARK)).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("c"))
    )
    # scale-ok: window over the ranked vocabulary (vocab-sized, not corpus)
    wr = Window.orderBy(F.col("c").desc(), F.col("term"))
    ranked = tc.select("c", F.row_number().over(wr).alias("rk"))
    # scale-ok: cumulative window over vocab ranks
    wc = Window.orderBy("rk")
    cum = ranked.select("rk", F.sum("c").over(wc).cast("long").alias("cum"))
    tot = tc.agg(
        F.sum("c").cast("long").alias("total"),
        F.count("*").cast("long").alias("vocab"),
    )
    budgets = F.explode(
        F.array(*[F.lit(b) for b in _VC_BUDGETS])
    ).alias("budget")
    return (
        cum.crossJoin(F.broadcast(tot))  # scale-ok: 1-row total
        .select("rk", "cum", "total", "vocab", budgets)
        .filter(F.col("rk") <= F.col("budget"))
        .groupBy(
            F.col("budget").alias("vocab_budget"),
            F.col("total").alias("total_tokens"),
            F.col("vocab").alias("vocab_size"),
        )
        .agg(
            F.max("cum").alias("covered_tokens"),
            r6(F.max("cum").cast("double") / F.col("total")).alias("coverage"),
        )
        .select(
            "vocab_budget",
            "covered_tokens",
            "total_tokens",
            "vocab_size",
            "coverage",
        )
    )


# ---------------------------------------------------------------------------
# Split balance audit: does the hash split preserve the corpus's language
# and source mix? Per (split, lang): document share inside the split vs
# the global share, with the deviation — stratification evidence for
# dataset_split_assignment (an unlucky hash split on a small corpus CAN
# skew a stratum; this is the check that would catch it). Counts are
# exact integers; shares are decimal-routed; the deviation comparison
# happens on the already-rounded doubles, identically in both engines.
# ---------------------------------------------------------------------------


def _split_balance_oracle() -> str:
    from datalakes_and_data_integration_spark.functions.hashing import (
        hash60_sql_duck,
    )

    bucket = f"{hash60_sql_duck('CAST(doc_id AS VARCHAR)', seed=7)} % 100"
    return f"""
    WITH assigned AS (
      SELECT lang,
             CASE WHEN b < 80 THEN 'train'
                  WHEN b < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT lang, {bucket} AS b FROM documents)
    ),
    cell AS (
      SELECT split, lang, count(*) AS n FROM assigned GROUP BY split, lang
    ),
    split_tot AS (
      SELECT split, CAST(sum(n) AS BIGINT) AS ns FROM cell GROUP BY split
    ),
    lang_tot AS (
      SELECT lang, CAST(sum(n) AS BIGINT) AS nl FROM cell GROUP BY lang
    ),
    grand AS (SELECT CAST(sum(n) AS BIGINT) AS g FROM cell)
    SELECT c.split, c.lang, CAST(c.n AS BIGINT) AS n_docs,
           CAST(ROUND(CAST(CAST(c.n AS DOUBLE) / s.ns
                           AS DECIMAL(27,12)), 6) AS DOUBLE) AS split_share,
           CAST(ROUND(CAST(CAST(l.nl AS DOUBLE) / g.g
                           AS DECIMAL(27,12)), 6) AS DOUBLE) AS global_share,
           CAST(ROUND(CAST(CAST(c.n AS DOUBLE) / s.ns
                           - CAST(l.nl AS DOUBLE) / g.g
                           AS DECIMAL(27,12)), 6) AS DOUBLE) AS deviation
    FROM cell c
    JOIN split_tot s ON s.split = c.split
    JOIN lang_tot l ON l.lang = c.lang
    CROSS JOIN grand g
    """


@register(
    "split_balance_audit",
    oracle=_split_balance_oracle(),
    description="Stratification audit of the md5 hash split: per (split, "
    "lang), the language share inside the split vs the corpus-wide share "
    "and their deviation — the evidence that dataset_split_assignment's "
    "unstratified hash didn't skew a stratum (it can, on small corpora). "
    "Exact integer counts, decimal-routed shares; dim-sized totals "
    "broadcast. Complements split_leakage_audit (leakage) and "
    "cluster_aware_split (dedup-aware assignment).",
    tags=("sampling", "split", "audit", "llm-pipeline"),
)
def split_balance_audit(spark, sf_dir):
    from datalakes_and_data_integration_spark.functions.hashing import (
        hash60_sql_spark,
    )

    bucket = f"{hash60_sql_spark('CAST(doc_id AS STRING)', seed=7)} % 100"
    assigned = T(spark, sf_dir, "documents").select(
        "lang",
        F.when(F.expr(bucket) < 80, "train")
        .when(F.expr(bucket) < 90, "val")
        .otherwise("test")
        .alias("split"),
    )
    cell = assigned.groupBy("split", "lang").agg(F.count("*").alias("n"))
    split_tot = cell.groupBy("split").agg(
        F.sum("n").cast("long").alias("ns")
    )
    lang_tot = cell.groupBy("lang").agg(F.sum("n").cast("long").alias("nl"))
    grand = cell.agg(F.sum("n").cast("long").alias("g"))

    return (
        cell.join(F.broadcast(split_tot), "split")
        .join(F.broadcast(lang_tot), "lang")
        .crossJoin(F.broadcast(grand))  # scale-ok: 1-row grand total
        .select(
            "split",
            "lang",
            F.col("n").cast("long").alias("n_docs"),
            r6(F.col("n").cast("double") / F.col("ns")).alias("split_share"),
            r6(F.col("nl").cast("double") / F.col("g")).alias("global_share"),
            r6(
                F.col("n").cast("double") / F.col("ns")
                - F.col("nl").cast("double") / F.col("g")
            ).alias("deviation"),
        )
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U (rank-sum) test: does English documents' quality
# distribution stochastically dominate the rest of the corpus? The
# rank-based two-sample test completing the drift family (KS = numeric
# CDFs, chi2/PSI = categorical mixes; U = ordinal dominance, robust to
# any monotone transform of the score). EXACT integers end-to-end: with
# midranks for ties, 2*rank(v) = 2*|{smaller}| + c_v + 1 is an integer,
# so the doubled rank sum R2 and doubled statistic 2U = R2 - n_a(n_a+1)
# are exact int64 in both engines; the rank-biserial effect size
# 2U/(n_a*n_b) - 1 is the one decimal-routed display ratio.
#
# Scale: one grouped scan to per-value counts, one window over distinct
# score values (bounded), a 1-row reduction.
# ---------------------------------------------------------------------------


def _mwu_oracle() -> str:
    from datalakes_and_data_integration_spark.functions.text import (
        STOPWORDS,
    )
    from datalakes_and_data_integration_spark.plans.curation3 import (
        _QUALITY_DUCK,
    )

    en = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    q = _QUALITY_DUCK.format(en=en)
    return f"""
    WITH tok AS (
      SELECT lang, {_TOK_DUCK} AS toks, length(text) AS n,
             len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS punct_cnt
      FROM documents
    ),
    scored AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS in_a,
             {q} AS quality
      FROM tok
    ),
    grp AS (
      SELECT quality, count(*) AS c,
             CAST(sum(in_a) AS BIGINT) AS a
      FROM scored GROUP BY quality
    ),
    win AS (
      SELECT quality, c, a,
             CAST(sum(c) OVER (ORDER BY quality) - c AS BIGINT) AS smaller
      FROM grp
    ),
    agg AS (
      SELECT CAST(sum(a) AS BIGINT) AS n_a,
             CAST(sum(c - a) AS BIGINT) AS n_b,
             CAST(sum(a * (2 * smaller + c + 1)) AS BIGINT) AS r2_a
      FROM win
    )
    SELECT n_a, n_b,
           r2_a - n_a * (n_a + 1) AS u2_a,
           2 * n_a * n_b - (r2_a - n_a * (n_a + 1)) AS u2_b,
           CAST(ROUND(CAST(CAST(r2_a - n_a * (n_a + 1) AS DOUBLE)
                           / (n_a * n_b) - 1.0
                           AS DECIMAL(27,12)), 6) AS DOUBLE)
             AS rank_biserial
    FROM agg
    """


@register(
    "mannwhitney_quality_en_vs_rest",
    oracle=_mwu_oracle(),
    description="Mann-Whitney U rank-sum test of English vs rest-of-"
    "corpus quality scores — the ordinal two-sample test completing the "
    "drift family (KS: numeric CDFs; chi2/PSI: categorical mixes; U: "
    "stochastic dominance, invariant to monotone score transforms). "
    "Doubled midranks keep everything exact int64 (2*rank = 2*smaller + "
    "ties + 1); the doubled statistic 2U and its complement are exact, "
    "and the rank-biserial effect size is the one decimal-routed "
    "display ratio. One grouped scan + one bounded distinct-value "
    "window + a 1-row reduction.",
    tags=("drift", "statistics", "text", "llm-pipeline"),
)
def mannwhitney_quality_en_vs_rest(spark, sf_dir):
    from datalakes_and_data_integration_spark.plans.text import (
        text_quality_score,
    )

    scored = (
        text_quality_score(spark, sf_dir)
        .select("doc_id", "quality")
        .join(
            T(spark, sf_dir, "documents").select("doc_id", "lang"),
            "doc_id",
        )
        .select(
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("in_a"),
            "quality",
        )
    )
    grp = scored.groupBy("quality").agg(
        F.count("*").alias("cnt"), F.sum("in_a").cast("long").alias("a")
    )
    agg = doubled_midranks(grp, "quality").agg(
        F.sum("a").cast("long").alias("n_a"),
        F.sum(F.col("cnt") - F.col("a")).cast("long").alias("n_b"),
        F.sum(F.col("a") * F.col("dm")).cast("long").alias("r2_a"),
    )
    u2_a = F.col("r2_a") - F.col("n_a") * (F.col("n_a") + 1)
    return agg.select(
        "n_a",
        "n_b",
        u2_a.alias("u2_a"),
        (2 * F.col("n_a") * F.col("n_b") - u2_a).alias("u2_b"),
        r6(
            u2_a.cast("double") / (F.col("n_a") * F.col("n_b"))
            - F.lit(1.0)
        ).alias("rank_biserial"),
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation between document quality and length, per
# language — the monotone-association companion to the Pearson family
# (lineitem_correlation_matrix, discount_quantity_correlation): Pearson
# sees lines, Spearman sees any monotone relation and shrugs at
# outliers. Exact determinism via the Mann-Whitney trick: per-language
# doubled midranks (2r = 2*smaller + ties + 1) are exact int64, so the
# Pearson-on-ranks moments are integer products under decimal sums and
# rho is one decimal-routed expression.
# ---------------------------------------------------------------------------


def _spearman_oracle() -> str:
    from datalakes_and_data_integration_spark.functions.text import (
        STOPWORDS,
    )
    from datalakes_and_data_integration_spark.plans.curation3 import (
        _QUALITY_DUCK,
    )

    en = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    q = _QUALITY_DUCK.format(en=en)

    def rank_cte(metric: str, name: str) -> str:
        return f"""
    {name}_grp AS (
      SELECT lang, {metric} AS v, count(*) AS c FROM scored
      GROUP BY lang, {metric}
    ),
    {name}_rank AS (
      SELECT lang, v,
             2 * (CAST(sum(c) OVER (PARTITION BY lang ORDER BY v)
                       AS BIGINT) - c) + c + 1 AS r2
      FROM {name}_grp
    )"""

    return f"""
    WITH tok AS (
      SELECT doc_id, lang, {_TOK_DUCK} AS toks, length(text) AS n,
             len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS punct_cnt
      FROM documents
    ),
    scored AS (
      SELECT doc_id, lang, {q} AS quality,
             CAST(n AS BIGINT) AS n_chars
      FROM tok
    ),{rank_cte('quality', 'q')},{rank_cte('n_chars', 'l')},
    joined AS (
      SELECT s.lang, qr.r2 AS x, lr.r2 AS y
      FROM scored s
      JOIN q_rank qr ON qr.lang = s.lang AND qr.v = s.quality
      JOIN l_rank lr ON lr.lang = s.lang AND lr.v = s.n_chars
    ),
    mom AS (
      SELECT lang, count(*) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(CAST(x AS DECIMAL(27,0)) * x) AS DOUBLE) AS sxx,
             CAST(sum(CAST(y AS DECIMAL(27,0)) * y) AS DOUBLE) AS syy,
             CAST(sum(CAST(x AS DECIMAL(27,0)) * y) AS DOUBLE) AS sxy
      FROM joined GROUP BY lang
    )
    SELECT lang, n,
           CAST(ROUND(CAST(
             CASE WHEN (n * sxx - CAST(sx AS DOUBLE) * sx) > 0
                   AND (n * syy - CAST(sy AS DOUBLE) * sy) > 0
                  THEN (n * sxy - CAST(sx AS DOUBLE) * sy)
                       / sqrt(n * sxx - CAST(sx AS DOUBLE) * sx)
                       / sqrt(n * syy - CAST(sy AS DOUBLE) * sy)
             END AS DECIMAL(27,12)), 6) AS DOUBLE) AS spearman_rho
    FROM mom
    """


@register(
    "spearman_quality_length",
    oracle=_spearman_oracle(),
    description="Spearman rank correlation between document quality and "
    "character length per language — the monotone-association companion "
    "to the Pearson family (outlier-robust, transform-invariant). "
    "Doubled midranks (2r = 2*smaller + ties + 1) are exact int64, the "
    "rank moments are integer products under decimal sums, and rho is "
    "one decimal-routed Pearson-on-ranks expression. Two distinct-value "
    "rank windows per language + one grouped moment pass.",
    tags=("statistics", "correlation", "text", "llm-pipeline"),
)
def spearman_quality_length(spark, sf_dir):
    from datalakes_and_data_integration_spark.plans.text import (
        text_quality_score,
    )

    scored = (
        text_quality_score(spark, sf_dir)
        .select("doc_id", "quality")
        .join(
            T(spark, sf_dir, "documents").select(
                "doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars")
            ),
            "doc_id",
        )
    )

    def rank_table(col, name):
        grp = scored.groupBy("lang", col).agg(F.count("*").alias("cnt"))
        return doubled_midranks(grp, col, by=("lang",)).select(
            "lang", col, F.col("dm").alias(name)
        )

    qr = rank_table("quality", "x")
    lr = rank_table("n_chars", "y")
    joined = scored.join(qr, ["lang", "quality"]).join(
        lr, ["lang", "n_chars"]
    )
    mom = joined.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.expr("CAST(x AS DECIMAL(27,0)) * x")).cast("double").alias("sxx"),
        F.sum(F.expr("CAST(y AS DECIMAL(27,0)) * y")).cast("double").alias("syy"),
        F.sum(F.expr("CAST(x AS DECIMAL(27,0)) * y")).cast("double").alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    dx = F.col("n") * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    dy = F.col("n") * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    rho = F.when(
        (dx > 0) & (dy > 0), num / F.sqrt(dx) / F.sqrt(dy)
    )
    return mom.select(
        "lang",
        "n",
        r6(rho).alias("spearman_rho"),
    )


# ---------------------------------------------------------------------------
# Multinomial naive Bayes language classifier (round-9 third session):
# the GENERATIVE member of the classifier-eval family — centroid and
# kNN judge embeddings, logreg trains a discriminative head; NB is the
# fastText-style baseline a curation pipeline trains ON its own corpus
# to audit the heuristic lang-id column. argmax_lang [ ln prior +
# sum_tok cnt * ln((c+1)/(T_lang+V)) ] with Laplace smoothing;
# algebraically score = sum cnt*ln(c+1) - N_doc*ln(T_lang+V) + ln prior,
# so unseen tokens cost exactly their share of the smoothing mass and
# the per-(lang,token) join only touches tokens the lang has seen.
# Determinism: ln on bit-identical integer-valued doubles (the
# source_lang_entropy contract); the per-token double terms are cast to
# DECIMAL(38,18) and SUMMED exactly (the logreg gradient rule), so the
# score's double epilogue reads identical inputs on both engines.
# ---------------------------------------------------------------------------

_NB_SEED = 23


def _nb_split(hash_fn, cast: str, p: str = "") -> tuple[str, str]:
    """Train/test bucket predicates; ``p`` is the table prefix for the
    oracle's qualified references (one template, no .replace chains)."""
    bucket = (
        f"({hash_fn(f'CAST({p}doc_id AS {cast})', seed=_NB_SEED)} % 100)"
    )
    return f"{bucket} < 80", f"{bucket} >= 90"


# Shared DOUBLE epilogue over (s1, n_doc, t_lang, v, n_lang, n_train):
# s1 is the exact decimal sum cast to double; everything else integer.
_NB_SCORE = """(CAST(s1 AS DOUBLE)
  - CAST(n_doc AS DOUBLE) * ln(CAST(t_lang + v AS DOUBLE))
  + ln(CAST(n_lang AS DOUBLE)) - ln(CAST(n_train AS DOUBLE)))"""
_NB_TERM = "CAST(CAST(cnt AS DOUBLE) * ln(CAST(c + 1 AS DOUBLE)) AS DECIMAL(38,18))"


def _nb_oracle() -> str:
    from datalakes_and_data_integration_spark.functions.hashing import (
        hash60_sql_duck,
    )

    train_pred, test_pred = _nb_split(hash60_sql_duck, "VARCHAR")
    _, test_pred_t = _nb_split(hash60_sql_duck, "VARCHAR", "t.")
    return f"""
    WITH tok AS MATERIALIZED (
      SELECT d.doc_id, d.lang, t.tok, CAST(count(*) AS BIGINT) AS cnt
      FROM documents d, unnest({tokens_sql_duck("d.text")}) AS t(tok)
      GROUP BY 1, 2, 3
    ),
    counts AS MATERIALIZED (
      SELECT lang AS lang_pred, tok, CAST(sum(cnt) AS BIGINT) AS c
      FROM tok WHERE {train_pred} GROUP BY 1, 2
    ),
    lang_stats AS MATERIALIZED (
      SELECT lang_pred, CAST(sum(c) AS BIGINT) AS t_lang FROM counts
      GROUP BY 1
    ),
    vocab AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM counts),
    priors AS MATERIALIZED (
      SELECT lang AS lang_pred, CAST(count(*) AS BIGINT) AS n_lang
      FROM documents WHERE {train_pred} GROUP BY 1
    ),
    n_train AS (
      SELECT CAST(count(*) AS BIGINT) AS n_train FROM documents
      WHERE {train_pred}
    ),
    test_docs AS MATERIALIZED (
      SELECT doc_id, lang AS lang_true,
             CAST(coalesce((SELECT sum(t.cnt) FROM tok t
                            WHERE t.doc_id = documents.doc_id), 0)
                  AS BIGINT) AS n_doc
      FROM documents WHERE {test_pred}
    ),
    s1 AS (
      SELECT t.doc_id, c.lang_pred,
             sum({_NB_TERM}) AS s1
      FROM tok t JOIN counts c ON c.tok = t.tok
      WHERE {test_pred_t}
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT d.doc_id, d.lang_true, p.lang_pred,
             row_number() OVER (
               PARTITION BY d.doc_id
               ORDER BY (SELECT {_NB_SCORE} FROM (
                 SELECT coalesce(s.s1, 0) AS s1, d.n_doc AS n_doc,
                        ls.t_lang AS t_lang, vv.v AS v,
                        p.n_lang AS n_lang, nt.n_train AS n_train
               )) DESC, p.lang_pred) AS rn
      FROM test_docs d
      CROSS JOIN priors p
      JOIN lang_stats ls ON ls.lang_pred = p.lang_pred
      CROSS JOIN vocab vv CROSS JOIN n_train nt
      LEFT JOIN s1 s ON s.doc_id = d.doc_id
                    AND s.lang_pred = p.lang_pred
    )
    SELECT lang_true, lang_pred, count(*) AS n
    FROM scored WHERE rn = 1
    GROUP BY lang_true, lang_pred
    """


@register(
    "naive_bayes_classifier_eval",
    oracle=_nb_oracle(),
    description="Multinomial naive Bayes language classifier trained "
    "on the deterministic md5 80% split of the documents corpus and "
    "evaluated on the held-out >=90 bucket as a confusion matrix — "
    "the generative member of the classifier-eval family (centroid/"
    "kNN judge embeddings, logreg trains a head; NB is the fastText-"
    "style corpus-trained audit of the heuristic lang-id). Laplace-"
    "smoothed ln((c+1)/(T_lang+V)) scores decompose so the test join "
    "only touches (lang, token) pairs the language has SEEN — unseen "
    "tokens ride the closed-form N_doc*ln(T_lang+V) correction. ln "
    "runs on bit-identical integer-valued doubles (the entropy "
    "contract); per-token terms are summed as exact DECIMAL(38,18) "
    "(the logreg gradient rule); the argmax tie-breaks on lang. "
    "Scale: training is one map-side-combined (lang, token) count; "
    "the eval join fans out by languages-that-saw-the-token, never "
    "|vocab| x |langs|; the score grid is test-docs x languages. "
    "HONEST READOUT: this synthetic corpus draws tokens independently "
    "of lang, so accuracy sits at the majority-prior baseline — the "
    "exact-rational recompute test pins that the argmax is right and "
    "the no-signal result is real, not a plumbing bug.",
    tags=("ml", "classifier", "text", "evaluation", "llm-pipeline"),
)
def naive_bayes_classifier_eval(spark, sf_dir):
    from datalakes_and_data_integration_spark.functions.hashing import (
        hash60_sql_spark,
    )
    from datalakes_and_data_integration_spark.functions.text import tokens

    train_pred, test_pred = _nb_split(hash60_sql_spark, "STRING")
    d = T(spark, sf_dir, "documents")
    tok = spread(
        d.select("doc_id", "lang", F.explode(tokens("text")).alias("tok")),
        spark,
    ).groupBy("doc_id", "lang", "tok").agg(
        F.count("*").cast("long").alias("cnt")
    ).persist()  # train counts + test scoring both read it
    counts = (
        tok.where(train_pred)
        .groupBy(F.col("lang").alias("lang_pred"), "tok")
        .agg(F.sum("cnt").cast("long").alias("c"))
        .persist()  # lang totals + vocab + the test join read it
    )
    lang_stats = counts.groupBy("lang_pred").agg(
        F.sum("c").cast("long").alias("t_lang")
    )
    vocab = counts.agg(
        F.countDistinct("tok").cast("long").alias("v")
    )
    priors = (
        d.where(train_pred)
        .groupBy(F.col("lang").alias("lang_pred"))
        .agg(F.count("*").cast("long").alias("n_lang"))
    )
    n_train = d.where(train_pred).agg(
        F.count("*").cast("long").alias("n_train")
    )
    doc_tok = tok.where(test_pred)
    test_docs = (
        d.where(test_pred)
        .select("doc_id", F.col("lang").alias("lang_true"))
        .join(
            doc_tok.groupBy("doc_id").agg(
                F.sum("cnt").cast("long").alias("n_doc")
            ),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            "lang_true",
            F.coalesce("n_doc", F.lit(0)).alias("n_doc"),
        )
    )
    s1 = (
        doc_tok.join(counts, "tok")
        .groupBy("doc_id", "lang_pred")
        .agg(F.sum(F.expr(_NB_TERM)).alias("s1"))
    )
    lang_dim = priors.join(lang_stats, "lang_pred")
    scored = (
        test_docs.crossJoin(F.broadcast(lang_dim))  # scale-ok: docs x ~5 langs
        .crossJoin(F.broadcast(vocab))  # scale-ok: 1-row vocab size
        .crossJoin(F.broadcast(n_train))  # scale-ok: 1-row train count
        .join(s1, ["doc_id", "lang_pred"], "left")
        .select(
            "doc_id",
            "lang_true",
            "lang_pred",
            F.coalesce(F.col("s1"), F.lit(0)).alias("s1"),
            "n_doc",
            "t_lang",
            "v",
            "n_lang",
            "n_train",
        )
        .selectExpr(
            "doc_id", "lang_true", "lang_pred", f"{_NB_SCORE} AS score"
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), "lang_pred"
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("lang_true", "lang_pred")
        .agg(F.count("*").alias("n"))
    )
