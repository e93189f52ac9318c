"""Corpus-curation queries for the training-data pipeline.

Beyond dedup/text-analysis (plans/dedup.py, plans/text.py), a large-scale
training corpus needs:

- **benchmark decontamination** — detect documents whose n-grams overlap an
  evaluation set, so eval answers don't leak into training data;
- **cross-document span duplication** — n-grams shared by many documents
  (boilerplate, templates), the C4-style signal for span-level cleaning;
- **source mixture weights** — per-(source, lang) token accounting and
  temperature-scaled sampling weights for corpus mixing;
- **label centroids** — per-class mean embedding (long form: one row per
  (label, dim) so results stay canonicalizer-safe), the seed statistic for
  clustering-based curation.

All native DataFrame expressions (no UDFs); every query has a DuckDB
oracle. The evaluation set is deterministic: doc_id % 97 == 0 stands in
for "the benchmark" so both engines agree on membership.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datalakes_and_data_integration_spark.functions.text import (
    shingles_expr_spark,
    shingles_sql_duck,
    tokens_sql_duck,
    tokens_sql_spark,
)
from datalakes_and_data_integration_spark.functions.hashing import (
    hash60_sql_duck,
    hash60_sql_spark,
)
from datalakes_and_data_integration_spark.plans._util import T, dec, r6, spread
from datalakes_and_data_integration_spark.plans.registry import register

_TOK_SPARK = tokens_sql_spark("text")
_TOK_DUCK = tokens_sql_duck("text")

_NGRAM = 5  # span width for contamination / duplication
_EVAL_MOD = 97  # doc_id % 97 == 0 -> "the benchmark docs"
_CONTAM_MIN = 0.05  # ratio above which a doc counts as contaminated


# ---------------------------------------------------------------------------
# Benchmark decontamination.
# ---------------------------------------------------------------------------


def _contamination_oracle() -> str:
    shing = shingles_sql_duck("toks", _NGRAM)
    return f"""
    WITH tok AS (SELECT doc_id, {_TOK_DUCK} AS toks FROM documents),
    shingled AS (
      SELECT doc_id, {shing} AS sh FROM tok WHERE len({shing}) > 0
    ),
    bench AS (
      SELECT DISTINCT unnest(sh) AS g FROM shingled
      WHERE doc_id % {_EVAL_MOD} = 0
    ),
    corpus AS (SELECT doc_id, sh FROM shingled WHERE doc_id % {_EVAL_MOD} <> 0),
    inverted AS (SELECT doc_id, unnest(sh) AS g FROM corpus),
    hits AS (
      SELECT i.doc_id, count(*) AS n_hits
      FROM inverted i JOIN bench b ON i.g = b.g
      GROUP BY i.doc_id
    )
    SELECT c.doc_id, len(c.sh) AS n_grams,
           COALESCE(h.n_hits, 0) AS n_hits,
           round(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / len(c.sh), 6)
             AS contamination,
           CAST(round(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / len(c.sh), 6)
                >= {_CONTAM_MIN} AS BOOLEAN) AS is_contaminated
    FROM corpus c LEFT JOIN hits h ON h.doc_id = c.doc_id
    """


@register(
    "benchmark_ngram_contamination",
    oracle=_contamination_oracle(),
    description=f"Eval-set decontamination: per corpus document, the share "
    f"of its distinct word {_NGRAM}-grams that also occur in the benchmark "
    f"docs (doc_id % {_EVAL_MOD} == 0 stands in for the eval set); "
    f"contaminated = ratio >= {_CONTAM_MIN}. Scale shape: the benchmark "
    "gram set is tiny relative to the corpus -> broadcast semi-join "
    "against the exploded corpus grams; the corpus-side explode shuffles "
    "once for the per-doc count.",
    tags=("curation", "decontamination", "llm-pipeline"),
)
def benchmark_ngram_contamination(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    tok_df = spread(d.select("doc_id", F.expr(_TOK_SPARK).alias("toks")), spark)
    shing = shingles_expr_spark("toks", _NGRAM)
    shingled = tok_df.select("doc_id", F.expr(shing).alias("sh")).filter(
        F.size("sh") > 0
    )
    bench_grams = (
        shingled.filter(F.col("doc_id") % _EVAL_MOD == 0)
        .select(F.explode("sh").alias("g"))
        .distinct()
    )
    corpus = shingled.filter(F.col("doc_id") % _EVAL_MOD != 0)
    inverted = corpus.select("doc_id", F.explode("sh").alias("g"))
    # The eval set is orders of magnitude smaller than the corpus:
    # broadcast it so the contamination probe never shuffles corpus grams
    # by gram value.
    hits = (
        inverted.join(F.broadcast(bench_grams), "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )
    ratio = F.round(
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("double") / F.col("n_grams"),
        6,
    )
    return (
        corpus.select("doc_id", F.size("sh").alias("n_grams"))
        .join(hits, "doc_id", "left_outer")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            ratio.alias("contamination"),
            (ratio >= _CONTAM_MIN).alias("is_contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# Cross-document span duplication.
# ---------------------------------------------------------------------------


def _interdoc_oracle() -> str:
    shing = shingles_sql_duck("toks", _NGRAM)
    return f"""
    WITH tok AS (SELECT doc_id, {_TOK_DUCK} AS toks FROM documents),
    shingled AS (
      SELECT doc_id, {shing} AS sh FROM tok WHERE len({shing}) > 0
    ),
    inverted AS (SELECT doc_id, unnest(sh) AS g FROM shingled)
    SELECT g AS gram, count(DISTINCT doc_id) AS n_docs
    FROM inverted
    GROUP BY g
    HAVING count(DISTINCT doc_id) >= 2
    """


@register(
    "interdoc_duplicate_ngrams",
    oracle=_interdoc_oracle(),
    description=f"Cross-document span duplication: word {_NGRAM}-grams "
    "occurring in >= 2 distinct documents, with their document frequency — "
    "the C4-style signal for boilerplate/template spans that span-level "
    "cleaning removes. One explode + one map-side-combined count per gram; "
    "shingles are per-doc distinct so the count IS the document frequency.",
    tags=("curation", "dedup", "llm-pipeline"),
)
def interdoc_duplicate_ngrams(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    tok_df = spread(d.select("doc_id", F.expr(_TOK_SPARK).alias("toks")), spark)
    shing = shingles_expr_spark("toks", _NGRAM)
    shingled = tok_df.select("doc_id", F.expr(shing).alias("sh")).filter(
        F.size("sh") > 0
    )
    # shingles_expr_spark applies array_distinct per doc, so count(*) per
    # gram equals count(DISTINCT doc_id) — no distinct-aggregate expansion.
    return (
        shingled.select(F.explode("sh").alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
    )


# ---------------------------------------------------------------------------
# Source mixture weights.
# ---------------------------------------------------------------------------


@register(
    "source_mixture_weights",
    oracle=f"""
    WITH tok AS (
      SELECT source, lang, len({_TOK_DUCK}) AS n_tok FROM documents
    ),
    per AS (
      SELECT source, lang, count(*) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS n_tokens
      FROM tok GROUP BY source, lang
    ),
    tot AS (SELECT sum(n_tokens) AS total FROM per),
    scored AS (
      SELECT p.source, p.lang, p.n_docs, p.n_tokens,
             round(CAST(p.n_tokens AS DOUBLE) / t.total, 6) AS token_share,
             sqrt(CAST(p.n_tokens AS DOUBLE) / t.total) AS raw_w
      FROM per p CROSS JOIN tot t
    )
    SELECT source, lang, n_docs, n_tokens, token_share,
           round(raw_w / sum(raw_w) OVER (), 6) AS sample_weight
    FROM scored
    """,
    description="Corpus mixing table: per (source, lang) document and token "
    "counts, token share, and a temperature-0.5 sampling weight "
    "(sqrt-scaled share, normalized) — how a training pipeline rebalances "
    "head sources against the tail. sqrt is IEEE-correctly-rounded in both "
    "engines (unlike pow), so the oracle matches bit-for-bit. Token counts "
    "are exact integers; one tiny aggregate, the total is a scalar.",
    tags=("curation", "mixing", "llm-pipeline"),
)
def source_mixture_weights(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    per = (
        d.select(
            "source", "lang", F.size(F.expr(_TOK_SPARK)).alias("n_tok")
        )
        .groupBy("source", "lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tok").alias("n_tokens"))
    )
    total = per.agg(F.sum("n_tokens")).collect()[0][0]  # scale-ok: 1-row scalar
    share = F.col("n_tokens").cast("double") / F.lit(float(total))
    scored = per.select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        F.round(share, 6).alias("token_share"),
        F.sqrt(share).alias("raw_w"),
    )
    # Normalizer via broadcast of a 1-row aggregate, not a global window:
    # the grouped frame is tiny (|source| x |lang|) but a partitionBy()-less
    # window would still funnel it through one task.
    wsum = scored.agg(F.sum("raw_w").alias("w_total"))
    return scored.crossJoin(F.broadcast(wsum)).select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        "token_share",
        F.round(F.col("raw_w") / F.col("w_total"), 6).alias("sample_weight"),
    )


# ---------------------------------------------------------------------------
# Per-label embedding centroids (long form).
# ---------------------------------------------------------------------------


@register(
    "label_centroids",
    oracle="""
    WITH elems AS (
      SELECT label, d.dim AS dim,
             CAST(embedding[d.dim + 1] AS DOUBLE) AS x
      FROM embeddings, (SELECT unnest(range(64)) AS dim) d
    )
    SELECT label, dim,
           round(CAST(sum(CAST(x AS DECIMAL(25,12))) AS DOUBLE) / count(*), 6)
             AS centroid,
           count(*) AS n_vectors
    FROM elems
    GROUP BY label, dim
    """,
    description="Per-class mean embedding, long form (label, dim, centroid, "
    "n_vectors) — one row per coordinate so the result is canonicalizer- "
    "safe. Element sums go through DECIMAL(25,12) so the aggregate is "
    "order-independent and matches the single-threaded oracle exactly. "
    "Scale shape: posexplode is a narrow map (64 rows per vector), the "
    "single shuffle is the (label, dim) aggregate with map-side combine — "
    "the centroid statistic clustering-based curation starts from.",
    tags=("curation", "embedding", "llm-pipeline"),
)
def label_centroids(spark, sf_dir):
    e = T(spark, sf_dir, "embeddings")
    elems = e.select(
        "label", F.posexplode("embedding").alias("dim", "x")
    ).select("label", "dim", F.col("x").cast("double").alias("x"))
    return elems.groupBy("label", "dim").agg(
        F.round(
            F.sum(dec("x", 25, 12)).cast("double") / F.count("*"), 6
        ).alias("centroid"),
        F.count("*").alias("n_vectors"),
    )


# ---------------------------------------------------------------------------
# Embedding int8 scalar quantization: per-dimension symmetric scales
# (max |x_d| over the corpus), quantize q = round(x/s*127), reconstruct
# x' = q*s/127, report per-vector reconstruction error. The storage
# decision this feeds: whether 4x-smaller int8 embeddings are safe for the
# ANN/near-dup suite. Both engines evaluate the error fold sequentially
# over the array (Spark `aggregate`, DuckDB `list_reduce`), so the double
# arithmetic is order-pinned and bit-identical.
# ---------------------------------------------------------------------------

_QDIM = 64


@register(
    "embedding_quantization_error",
    oracle=f"""
    WITH ex AS (
      SELECT i, max(abs(CAST(embedding[i] AS DOUBLE))) AS s
      FROM embeddings, range(1, {_QDIM} + 1) t(i)
      GROUP BY i
    ),
    scales AS (SELECT list(s ORDER BY i) AS sc FROM ex),
    errs AS (
      SELECT vec_id, label,
             list_transform(range(1, {_QDIM} + 1), j ->
               CASE WHEN sc[j] = 0 THEN CAST(embedding[j] AS DOUBLE)
                    ELSE CAST(embedding[j] AS DOUBLE)
                         - round(CAST(embedding[j] AS DOUBLE) / sc[j] * 127)
                           * sc[j] / 127
               END) AS e
      FROM embeddings CROSS JOIN scales
    )
    SELECT vec_id, label,
           round(list_reduce(list_transform(e, v -> v * v),
                             (a, v) -> a + v) / {_QDIM}, 9) AS mse_q8,
           round(list_reduce(list_transform(e, v -> abs(v)),
                             (a, v) -> greatest(a, v)), 9) AS linf_q8
    FROM errs
    """,
    description="Int8 scalar-quantization error per vector: per-dimension "
    "symmetric scales from one posexplode + 64-row max aggregate "
    "(broadcast back as a single array literal row), then a narrow scan "
    "computing MSE and L-infinity reconstruction error via order-pinned "
    "sequential array folds. No UDFs, no driver-side data.",
    tags=("similarity", "quantization", "llm-pipeline"),
)
def embedding_quantization_error(spark, sf_dir):
    e = T(spark, sf_dir, "embeddings")
    dims = (
        e.select(F.posexplode("embedding").alias("d", "x"))
        .groupBy("d")
        .agg(F.max(F.abs(F.col("x").cast("double"))).alias("s"))
    )
    sc = dims.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(d, s))), p -> p.s)"
        ).alias("sc")
    )
    err_arr = f"""
      transform(sequence(0, {_QDIM} - 1), d ->
        CASE WHEN sc[d] = 0D THEN CAST(embedding[d] AS DOUBLE)
             ELSE CAST(embedding[d] AS DOUBLE)
                  - round(CAST(embedding[d] AS DOUBLE) / sc[d] * 127)
                    * sc[d] / 127
        END)
    """
    out = (
        spread(e, spark, by="vec_id")
        .crossJoin(F.broadcast(sc))  # scale-ok: 1-row scales array
        .withColumn("e", F.expr(err_arr))
    )
    return out.select(
        "vec_id",
        "label",
        F.round(
            F.expr("aggregate(transform(e, v -> v * v), 0D, (a, v) -> a + v)")
            / _QDIM,
            9,
        ).alias("mse_q8"),
        F.round(
            F.expr(
                "aggregate(transform(e, v -> abs(v)), 0D, (a, v) -> greatest(a, v))"
            ),
            9,
        ).alias("linf_q8"),
    )


# ---------------------------------------------------------------------------
# Feature hashing (the "hashing trick"): tokens -> fixed-width sparse
# feature space without a vocabulary pass. bucket = md5-hash(token) mod
# _FH_BUCKETS; a second seeded hash supplies the +-1 sign that unbiases
# collisions (Weinberger et al. 2009). Long-form COO output — the shape a
# downstream trainer ingests directly, and the only shape that stays
# canonicalizer-safe.
# ---------------------------------------------------------------------------

_FH_BUCKETS = 1024

@register(
    "feature_hashing",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_TOK_DUCK} AS toks FROM documents),
    terms AS (SELECT doc_id, unnest(toks) AS term FROM tok),
    hashed AS (
      SELECT doc_id,
             {hash60_sql_duck('term')} % {_FH_BUCKETS} AS bucket,
             CASE WHEN ({hash60_sql_duck('term', seed=2)} & 1) = 1
                  THEN 1 ELSE -1 END AS sgn
      FROM terms
    )
    SELECT doc_id, bucket,
           count(*) AS cnt,
           CAST(sum(sgn) AS BIGINT) AS signed_sum
    FROM hashed
    GROUP BY doc_id, bucket
    """,
    description=f"Hashing-trick featurization into {_FH_BUCKETS} buckets: "
    "md5-derived bucket plus an independent md5-derived +-1 collision-"
    "unbiasing sign, aggregated to long-form (doc_id, bucket) counts and "
    "signed sums. Vocabulary-free — one explode + one map-side-combined "
    "shuffle regardless of corpus size.",
    tags=("text", "features", "llm-pipeline"),
)
def feature_hashing(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    terms = spread(
        d.select("doc_id", F.expr(_TOK_SPARK).alias("toks")), spark
    ).select("doc_id", F.explode("toks").alias("term"))
    hashed = terms.select(
        "doc_id",
        (F.expr(hash60_sql_spark("term")) % _FH_BUCKETS).alias("bucket"),
        F.when(
            F.expr(hash60_sql_spark("term", seed=2)).bitwiseAND(F.lit(1)) == 1,
            1,
        )
        .otherwise(-1)
        .alias("sgn"),
    )
    return hashed.groupBy("doc_id", "bucket").agg(
        F.count("*").alias("cnt"),
        F.sum("sgn").alias("signed_sum"),
    )


# ---------------------------------------------------------------------------
# Quality vs duplication: does low-quality content duplicate more? Joins
# the quality-score scan with exact-dedup group structure and reports
# per-quality-bucket duplicate and drop rates — the evidence for ordering
# curation stages (dedup-then-filter vs filter-then-dedup).
# ---------------------------------------------------------------------------


def _quality_duck() -> str:
    """The text_quality_score composite, as a doc_id -> quality CTE body."""
    from datalakes_and_data_integration_spark.functions.text import (
        STOPWORDS,
    )

    en = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    return f"""
    SELECT doc_id,
           0.4 * (CASE WHEN len(toks) > 0 THEN
                    CAST(len(list_filter(toks, t -> list_contains([{en}], t))) AS DOUBLE)
                      / len(toks) ELSE 0.0 END)
           + 0.3 * least(1.0, CAST(len(toks) AS DOUBLE) / 100.0)
           + 0.3 * (1.0 - (CASE WHEN n > 0 THEN CAST(punct_cnt AS DOUBLE) / n
                           ELSE 0.0 END)) AS quality
    FROM (
      SELECT doc_id, {_TOK_DUCK} AS toks, length(text) AS n,
             len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS punct_cnt
      FROM documents
    )
    """


@register(
    "quality_vs_duplication",
    oracle=f"""
    WITH quality AS ({{}}),
    grp AS (
      SELECT md5(text) AS h, count(*) AS n_copies, min(doc_id) AS keeper
      FROM documents GROUP BY md5(text)
    ),
    flags AS (
      SELECT d.doc_id,
             g.n_copies > 1 AS is_dup,
             g.n_copies > 1 AND d.doc_id <> g.keeper AS is_dropped
      FROM documents d JOIN grp g ON md5(d.text) = g.h
    )
    SELECT CAST(least(9, floor(q.quality * 10)) AS BIGINT) AS quality_bucket,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN f.is_dup THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup,
           CAST(sum(CASE WHEN f.is_dropped THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped,
           CAST(ROUND(CAST(CAST(sum(CASE WHEN f.is_dup THEN 1 ELSE 0 END)
                                AS DOUBLE) / count(*) AS DECIMAL(27,12)), 6)
                AS DOUBLE) AS dup_rate,
           CAST(ROUND(CAST(CAST(sum(CASE WHEN f.is_dropped THEN 1 ELSE 0 END)
                                AS DOUBLE) / count(*) AS DECIMAL(27,12)), 6)
                AS DOUBLE) AS drop_rate
    FROM flags f JOIN quality q ON q.doc_id = f.doc_id
    GROUP BY 1
    """.format(_quality_duck()),
    description="Per-quality-decile duplication: the text_quality_score "
    "composite bucketed to 10 bins (identical double arithmetic on both "
    "engines, so bin edges agree exactly), joined to exact-dedup group "
    "structure (md5 groupBy; keeper = smallest doc_id); reports dup and "
    "drop rates per bin. Two shuffles total: the digest groupBy and the "
    "final 10-row aggregate; the doc_id join co-partitions with the scan.",
    tags=("text", "dedup", "curation", "llm-pipeline"),
)
def quality_vs_duplication(spark, sf_dir):
    from datalakes_and_data_integration_spark.plans.text import (
        text_quality_score,
    )

    q = text_quality_score(spark, sf_dir).select("doc_id", "quality")
    d = T(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("h")
    )
    grp = d.groupBy("h").agg(
        F.count("*").alias("n_copies"), F.min("doc_id").alias("keeper")
    )
    flags = d.join(grp, "h").select(
        "doc_id",
        (F.col("n_copies") > 1).alias("is_dup"),
        ((F.col("n_copies") > 1) & (F.col("doc_id") != F.col("keeper"))).alias(
            "is_dropped"
        ),
    )
    n_dup = F.sum(F.when(F.col("is_dup"), 1).otherwise(0))
    n_dropped = F.sum(F.when(F.col("is_dropped"), 1).otherwise(0))
    return (
        flags.join(q, "doc_id")
        .groupBy(
            F.least(F.lit(9), F.floor(F.col("quality") * 10))
            .cast("long")
            .alias("quality_bucket")
        )
        .agg(
            F.count("*").alias("n_docs"),
            n_dup.alias("n_dup"),
            n_dropped.alias("n_dropped"),
            r6(n_dup.cast("double") / F.count("*")).alias("dup_rate"),
            r6(n_dropped.cast("double") / F.count("*")).alias("drop_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Quality-weighted sampling without replacement (Efraimidis-Spirakis 2006):
# key_i = ln(u_i) / w_i with u_i an md5-derived uniform in (0, 1]; the k
# largest keys ARE a weighted sample without replacement. Deterministic —
# no rand(), so the sample is reproducible across runs, engines, and
# machines, and the top-k is a distributed TakeOrdered (per-partition
# heads then a global merge), never a sort of the corpus.
# ---------------------------------------------------------------------------

_WS_K = 100


def _weighted_sample_oracle() -> str:
    u = f"(CAST({hash60_sql_duck('CAST(doc_id AS VARCHAR)', seed=11)} AS DOUBLE) + 1) / {float(1 << 60)}"
    return f"""
    WITH quality AS ({_quality_duck()}),
    keyed AS (
      SELECT q.doc_id, q.quality,
             ln({u}) / q.quality AS es_key
      FROM quality q
      WHERE q.quality > 0
    ),
    ranked AS (
      SELECT doc_id, quality, es_key,
             row_number() OVER (ORDER BY es_key DESC, doc_id) AS rank
      FROM keyed
    )
    SELECT doc_id, round(quality, 6) AS quality,
           round(es_key, 6) AS es_key, rank
    FROM ranked WHERE rank <= {_WS_K}
    """


@register(
    "weighted_sample_quality",
    oracle=_weighted_sample_oracle(),
    description=f"Reproducible quality-weighted sample (top-{_WS_K}, "
    "Efraimidis-Spirakis): exponential-race keys ln(u)/quality with "
    "md5-derived uniforms — higher-quality docs win proportionally more "
    "often, the sample is without replacement, and zero randomness state "
    "is needed; the selection is a distributed TakeOrdered over the "
    "keyed scan.",
    tags=("sampling", "curation", "llm-pipeline"),
)
def weighted_sample_quality(spark, sf_dir):
    from pyspark.sql import Window

    from datalakes_and_data_integration_spark.plans.text import (
        text_quality_score,
    )

    q = text_quality_score(spark, sf_dir).select("doc_id", "quality")
    u = (
        F.expr(
            hash60_sql_spark("CAST(doc_id AS STRING)", seed=11)
        ).cast("double")
        + 1
    ) / float(1 << 60)
    keyed = q.filter(F.col("quality") > 0).select(
        "doc_id", "quality", (F.log(u) / F.col("quality")).alias("es_key")
    )
    head = keyed.orderBy(F.col("es_key").desc(), "doc_id").limit(_WS_K)
    # scale-ok: rank window runs on the _WS_K-row head only
    wr = Window.orderBy(F.col("es_key").desc(), "doc_id")
    return head.select(
        "doc_id",
        F.round("quality", 6).alias("quality"),
        F.round("es_key", 6).alias("es_key"),
        F.row_number().over(wr).alias("rank"),
    )


# ---------------------------------------------------------------------------
# The capstone: one manifest row per document with EVERY curation decision
# — language gate, quality gate, exact-dedup keeper, near-dup cluster
# representative, eval-set membership, contamination, split assignment,
# and the final kept verdict. This is the table the training-data writer
# actually consumes; every stage reuses the registered operator it audits
# (same expressions, same oracles composed). Output is booleans/strings
# only — no floats to round.
# ---------------------------------------------------------------------------

_MANIFEST_QUALITY_MIN = 0.5


def _manifest_oracle() -> str:
    from datalakes_and_data_integration_spark.plans.dedup import (
        _minhash_oracle,
    )

    return f"""
    WITH RECURSIVE pairs AS ({_minhash_oracle()}),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    reach(doc, root) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.a, r.root FROM reach r JOIN edges e ON e.b = r.doc
    ),
    clusters AS (
      SELECT doc, CAST(min(root) AS BIGINT) AS cluster_id FROM reach
      GROUP BY doc
    ),
    quality AS ({_quality_duck()}),
    grp AS (
      SELECT md5(text) AS h, min(doc_id) AS keeper
      FROM documents GROUP BY md5(text)
    ),
    contam AS ({_contamination_oracle()})
    SELECT d.doc_id,
           d.lang = 'en' AS lang_ok,
           q.quality >= {_MANIFEST_QUALITY_MIN} AS quality_ok,
           d.doc_id = g.keeper AS exact_keeper,
           c.doc = c.cluster_id AS neardup_kept,
           d.doc_id % {_EVAL_MOD} = 0 AS is_eval,
           COALESCE(ct.is_contaminated, false) AS is_contaminated,
           CASE WHEN ({hash60_sql_duck("CAST(d.doc_id AS VARCHAR)", seed=7)}
                      % 100) < 80 THEN 'train'
                WHEN ({hash60_sql_duck("CAST(d.doc_id AS VARCHAR)", seed=7)}
                      % 100) < 90 THEN 'val'
                ELSE 'test' END AS split,
           (d.lang = 'en' AND q.quality >= {_MANIFEST_QUALITY_MIN}
            AND d.doc_id = g.keeper AND c.doc = c.cluster_id
            AND d.doc_id % {_EVAL_MOD} <> 0
            AND NOT COALESCE(ct.is_contaminated, false)) AS kept
    FROM documents d
    JOIN quality q ON q.doc_id = d.doc_id
    JOIN grp g ON g.h = md5(d.text)
    JOIN clusters c ON c.doc = d.doc_id
    LEFT JOIN contam ct ON ct.doc_id = d.doc_id
    """


@register(
    "training_corpus_manifest",
    oracle=_manifest_oracle(),
    description="The end-to-end curation verdict, one row per document: "
    "language gate, quality gate (composite >= "
    f"{_MANIFEST_QUALITY_MIN}), exact-dedup keeper, near-dup cluster "
    "representative (MinHash+LSH connected components), eval-set "
    "membership, n-gram contamination, reproducible split, and the final "
    "`kept` decision the training-data writer filters on. Every stage "
    "reuses the registered operator it audits; the oracle composes their "
    "oracles (incl. the recursive-CTE components). Boolean/string output "
    "— no float comparisons at all.",
    tags=("curation", "capstone", "llm-pipeline"),
)
def training_corpus_manifest(spark, sf_dir):
    from datalakes_and_data_integration_spark.plans.dedup import (
        dedup_cluster_assignment,
    )
    from datalakes_and_data_integration_spark.plans.text import (
        text_quality_score,
    )

    d = T(spark, sf_dir, "documents")
    q = text_quality_score(spark, sf_dir).select("doc_id", "quality")
    keyed = d.select("doc_id", "lang", F.md5("text").alias("h"))
    grp = keyed.groupBy("h").agg(F.min("doc_id").alias("keeper"))
    clusters = dedup_cluster_assignment(spark, sf_dir).select(
        F.col("doc").alias("doc_id"), "cluster_id"
    )
    contam = benchmark_ngram_contamination(spark, sf_dir).select(
        "doc_id", "is_contaminated"
    )
    bucket = (
        F.expr(hash60_sql_spark("CAST(doc_id AS STRING)", seed=7)) % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    lang_ok = F.col("lang") == "en"
    quality_ok = F.col("quality") >= _MANIFEST_QUALITY_MIN
    exact_keeper = F.col("doc_id") == F.col("keeper")
    neardup_kept = F.col("doc_id") == F.col("cluster_id")
    is_eval = F.col("doc_id") % _EVAL_MOD == 0
    contaminated = F.coalesce(F.col("is_contaminated"), F.lit(False))
    return (
        keyed.join(q, "doc_id")
        .join(grp, "h")
        .join(clusters, "doc_id")
        .join(contam, "doc_id", "left")
        .select(
            "doc_id",
            lang_ok.alias("lang_ok"),
            quality_ok.alias("quality_ok"),
            exact_keeper.alias("exact_keeper"),
            neardup_kept.alias("neardup_kept"),
            is_eval.alias("is_eval"),
            contaminated.alias("is_contaminated"),
            split.alias("split"),
            (
                lang_ok
                & quality_ok
                & exact_keeper
                & neardup_kept
                & ~is_eval
                & ~contaminated
            ).alias("kept"),
        )
    )


# ---------------------------------------------------------------------------
# Near-dup provenance: which source pairs produce the near-duplicate
# pairs? cross_source_duplication (plans/dedup.py) answers this for
# EXACT copies; this is the MinHash near-dup analogue — the evidence for
# which crawls re-host lightly-edited copies of each other.
# ---------------------------------------------------------------------------


def _neardup_rate_oracle() -> str:
    from datalakes_and_data_integration_spark.plans.dedup import (
        _minhash_oracle,
    )

    return f"""
    WITH pairs AS ({_minhash_oracle()})
    SELECT least(da.source, db.source) AS source_x,
           greatest(da.source, db.source) AS source_y,
           count(*) AS n_neardup_pairs
    FROM pairs p
    JOIN documents da ON da.doc_id = p.doc_a
    JOIN documents db ON db.doc_id = p.doc_b
    GROUP BY 1, 2
    """


@register(
    "cross_source_neardup_rate",
    oracle=_neardup_rate_oracle(),
    description="Near-dup pair counts per unordered source pair: the "
    "MinHash candidate pairs (same kernel/oracle as dedup_minhash_lsh) "
    "joined to both sides' provenance — which crawls re-host lightly-"
    "edited copies of each other. Pair-side joins are on doc_id; the "
    "pair table, not the corpus, is what shuffles.",
    tags=("dedup", "provenance", "curation", "llm-pipeline"),
)
def cross_source_neardup_rate(spark, sf_dir):
    from datalakes_and_data_integration_spark.plans.dedup import (
        dedup_minhash_lsh,
    )

    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    d = T(spark, sf_dir, "documents").select("doc_id", "source")
    da = d.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa"))
    db = d.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb"))
    return (
        pairs.join(da, "doc_a")
        .join(db, "doc_b")
        .groupBy(
            F.least("sa", "sb").alias("source_x"),
            F.greatest("sa", "sb").alias("source_y"),
        )
        .agg(F.count("*").alias("n_neardup_pairs"))
    )


# ---------------------------------------------------------------------------
# Near-dup cluster-size distribution: how big do duplicate clusters get?
# The planning evidence for dedup (a heavy-tailed size distribution
# means a few templates dominate the drop set, and cluster-rep choice
# matters). Composes the connected-components assignment; output is
# integer (size -> cluster count, docs affected).
# ---------------------------------------------------------------------------


def _cluster_sizes_oracle() -> str:
    from datalakes_and_data_integration_spark.plans.dedup import (
        _minhash_oracle,
    )

    return f"""
    WITH RECURSIVE pairs AS ({_minhash_oracle()}),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    reach(doc, root) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.a, r.root FROM reach r JOIN edges e ON e.b = r.doc
    ),
    clusters AS (
      SELECT doc, CAST(min(root) AS BIGINT) AS cluster_id FROM reach
      GROUP BY doc
    ),
    sizes AS (
      SELECT cluster_id, count(*) AS sz FROM clusters GROUP BY cluster_id
    )
    SELECT sz AS cluster_size,
           count(*) AS n_clusters,
           sz * count(*) AS n_docs,
           CAST(sz * count(*) - count(*) AS BIGINT) AS n_dropped
    FROM sizes GROUP BY sz
    """


@register(
    "dup_cluster_size_distribution",
    oracle=_cluster_sizes_oracle(),
    description="Near-dup cluster-size histogram (composes the connected-"
    "components assignment): clusters and documents per size, and how "
    "many docs keep-one-per-cluster drops at each size — the heavy-tail "
    "evidence that sizes dedup effort and rep-choice policy. Integer "
    "output.",
    tags=("dedup", "graph", "profiling", "llm-pipeline"),
)
def dup_cluster_size_distribution(spark, sf_dir):
    from pyspark.sql import functions as F

    from datalakes_and_data_integration_spark.plans.dedup import (
        dedup_cluster_assignment,
    )

    clusters = dedup_cluster_assignment(spark, sf_dir)
    sizes = clusters.groupBy("cluster_id").agg(F.count("*").alias("sz"))
    return sizes.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count("*").alias("n_clusters"),
        (F.col("sz") * F.count("*")).alias("n_docs"),
        (F.col("sz") * F.count("*") - F.count("*"))
        .cast("long")
        .alias("n_dropped"),
    )


# ---------------------------------------------------------------------------
# Sketch agreement: do MinHash (set-similarity) and SimHash (cosine-ish
# bit similarity) nominate the same near-dup pairs? The two sketches
# have different blind spots; their pair-set overlap is the evidence for
# running one, the other, or both in the dedup stage.
# ---------------------------------------------------------------------------


def _sketch_agreement_oracle() -> str:
    from datalakes_and_data_integration_spark.plans.dedup import (
        _minhash_oracle,
        _simhash_pairs_oracle,
    )

    return f"""
    WITH mh AS ({_minhash_oracle()}),
    sh AS ({_simhash_pairs_oracle()}),
    mh_pairs AS (SELECT DISTINCT doc_a, doc_b FROM mh),
    sh_pairs AS (SELECT DISTINCT doc_a, doc_b FROM sh),
    both_pairs AS (
      SELECT m.doc_a, m.doc_b FROM mh_pairs m
      JOIN sh_pairs s ON s.doc_a = m.doc_a AND s.doc_b = m.doc_b
    )
    SELECT (SELECT count(*) FROM mh_pairs) AS n_minhash,
           (SELECT count(*) FROM sh_pairs) AS n_simhash,
           (SELECT count(*) FROM both_pairs) AS n_both,
           CAST(ROUND(CAST(
             CAST((SELECT count(*) FROM both_pairs) AS DOUBLE)
             / ((SELECT count(*) FROM mh_pairs)
                + (SELECT count(*) FROM sh_pairs)
                - (SELECT count(*) FROM both_pairs))
             AS DECIMAL(27,12)), 6) AS DOUBLE) AS pair_set_jaccard
    """


@register(
    "sketch_agreement_audit",
    oracle=_sketch_agreement_oracle(),
    description="MinHash vs SimHash near-dup pair-set agreement: pair "
    "counts from both sketches (same kernels/oracles as their queries), "
    "the intersection, and the Jaccard of the two pair sets — the "
    "run-one-or-both evidence for the dedup stage. Integer counts, one "
    "decimal-routed ratio.",
    tags=("dedup", "sketch-quality", "llm-pipeline"),
)
def sketch_agreement_audit(spark, sf_dir):
    from pyspark.sql import functions as F

    from datalakes_and_data_integration_spark.plans.dedup import (
        dedup_minhash_lsh,
        dedup_simhash_pairs,
    )

    mh = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b").distinct()
    sh = dedup_simhash_pairs(spark, sf_dir).select("doc_a", "doc_b").distinct()
    both = mh.join(sh, ["doc_a", "doc_b"], "left_semi")
    nm = mh.agg(F.count("*").alias("n_minhash"))
    ns = sh.agg(F.count("*").alias("n_simhash"))
    nb = both.agg(F.count("*").alias("n_both"))
    return (
        nm.crossJoin(F.broadcast(ns))  # scale-ok: 1-row counts
        .crossJoin(F.broadcast(nb))  # scale-ok: 1-row counts
        .select(
            "n_minhash",
            "n_simhash",
            "n_both",
            r6(
                F.col("n_both").cast("double")
                / (
                    F.col("n_minhash")
                    + F.col("n_simhash")
                    - F.col("n_both")
                )
            ).alias("pair_set_jaccard"),
        )
    )
