"""Text-analysis queries over the ``documents`` table — the training-data
pipeline surface (BASELINE.json north star: language ID, quality scoring,
token counting, fingerprinting).

All expressions are native Spark SQL (codegen, no UDFs, no shuffle except
the final grouping queries) and every hash shared with the oracle is
md5-derived (functions/hashing.py). At 100 TB these are embarrassingly
parallel scans — per-document work, zero data movement.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datalakes_and_data_integration_spark.functions.text import (
    LANG_ORDER,
    STOPWORDS,
    argmax_lang,
    argmax_lang_sql_duck,
    bpe_token_count,
    bpe_token_count_sql_duck,
    lang_scores,
    lang_scores_sql_duck,
    tokens,
    tokens_sql_duck,
)
from datalakes_and_data_integration_spark.functions.hashing import (
    hash60_sql_duck,
    hash60_sql_spark,
)
from datalakes_and_data_integration_spark.plans._util import T, r6, spread
from datalakes_and_data_integration_spark.plans.registry import register

_TOK_DUCK = tokens_sql_duck("text")

# ---------------------------------------------------------------------------
# Token counting: whitespace tokens + BPE-ish regex tokens + avg token length.
# ---------------------------------------------------------------------------


@register(
    "text_token_stats",
    oracle=f"""
    WITH tok AS (SELECT doc_id, n_chars, {_TOK_DUCK} AS toks FROM documents)
    SELECT doc_id, n_chars,
           len(toks) AS n_tokens,
           (SELECT {bpe_token_count_sql_duck('d.text')}
            FROM documents d WHERE d.doc_id = tok.doc_id) AS n_bpe_tokens,
           CASE WHEN len(toks) > 0 THEN
             CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
               / len(toks)
           END AS avg_token_len
    FROM tok
    """,
    description="Whitespace token count, BPE-ish regex token count, and mean "
    "token length per document.",
    tags=("text", "llm-pipeline"),
    bench=True,
)
def text_token_stats(spark, sf_dir):
    # spread BEFORE tokenizing: the BPE regex + whitespace split are the
    # cost and both read raw text, so the exchange must ship text (the
    # dedup-ladder probe measured this query serial-linear on the single
    # input split: 1.9 s at 50k docs on one task).
    d = spread(T(spark, sf_dir, "documents"), spark)
    tok = d.select("doc_id", "n_chars", "text", tokens("text").alias("toks"))
    return tok.select(
        "doc_id",
        "n_chars",
        F.size("toks").alias("n_tokens"),
        bpe_token_count("text").alias("n_bpe_tokens"),
        F.when(
            F.size("toks") > 0,
            F.expr(
                "CAST(aggregate(transform(toks, t -> length(t)), 0, (a, x) -> a + x) AS DOUBLE)"
            )
            / F.size("toks"),
        ).alias("avg_token_len"),
    )


# ---------------------------------------------------------------------------
# Language ID: stopword-lexicon scoring with deterministic argmax.
# ---------------------------------------------------------------------------


def _lang_oracle() -> str:
    scores = lang_scores_sql_duck("toks")
    cols = ", ".join(f"{scores[lang]} AS score_{lang}" for lang in LANG_ORDER)
    pred = argmax_lang_sql_duck(scores)
    return f"""
    WITH tok AS (SELECT doc_id, lang, {_TOK_DUCK} AS toks FROM documents)
    SELECT doc_id, lang, {cols}, {pred} AS lang_pred
    FROM tok
    """


@register(
    "text_lang_id",
    oracle=_lang_oracle(),
    description="N-gram-heuristic language ID: per-language stopword-lexicon "
    "scores and deterministic arg-max prediction (tiebreak = fixed language "
    "order, all-zero -> 'und').",
    tags=("text", "llm-pipeline"),
)
def text_lang_id(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    # spread AFTER tokenizing (the dedup_minhash_lsh idiom): the exchange
    # is an optimizer barrier, so CollapseProject cannot re-inline the
    # split into every per-language score lambda, and the scores — the
    # heavy stage — run at session parallelism instead of on the scan's
    # single input split.
    tok = spread(
        d.select("doc_id", "lang", tokens("text").alias("toks")), spark
    )
    scores = lang_scores(F.col("toks"))
    return tok.select(
        "doc_id",
        "lang",
        *[scores[lang].alias(f"score_{lang}") for lang in LANG_ORDER],
        argmax_lang(scores).alias("lang_pred"),
    )


# ---------------------------------------------------------------------------
# Quality scoring: length/punctuation/stopword components + composite.
# Component ratios are int/int -> double divisions (deterministic IEEE);
# the composite applies the same literal weights in the same order on both
# engines.
# ---------------------------------------------------------------------------

_EN = ", ".join(f"'{w}'" for w in STOPWORDS["en"])


@register(
    "text_quality_score",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_TOK_DUCK} AS toks, length(text) AS n,
             len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS punct_cnt
      FROM documents
    )
    SELECT doc_id,
           len(toks) AS n_tokens,
           punct_cnt,
           CASE WHEN len(toks) > 0 THEN
             CAST(len(list_filter(toks, t -> list_contains([{_EN}], t))) AS DOUBLE)
               / len(toks) ELSE 0.0 END AS stopword_ratio,
           CASE WHEN n > 0 THEN CAST(punct_cnt AS DOUBLE) / n ELSE 0.0 END
             AS punct_ratio,
           least(1.0, CAST(len(toks) AS DOUBLE) / 100.0) AS len_score,
           0.4 * (CASE WHEN len(toks) > 0 THEN
                    CAST(len(list_filter(toks, t -> list_contains([{_EN}], t))) AS DOUBLE)
                      / len(toks) ELSE 0.0 END)
           + 0.3 * least(1.0, CAST(len(toks) AS DOUBLE) / 100.0)
           + 0.3 * (1.0 - (CASE WHEN n > 0 THEN CAST(punct_cnt AS DOUBLE) / n
                           ELSE 0.0 END)) AS quality
    FROM tok
    """,
    description="Document quality heuristics: stopword ratio, punctuation "
    "ratio, length score, and a fixed-weight composite in [0, 1].",
    tags=("text", "llm-pipeline"),
)
def text_quality_score(spark, sf_dir):
    # spread the raw scan: the tokenize + punctuation regex below are the
    # cost and both read text. Seven registered queries compose this one
    # (quality deciles, weighted sampling, the corpus manifest, quantile
    # normalization, both rank statistics) — the single-split serialization
    # measured here (4.0 s at 50k docs) taxed all of them.
    d = spread(T(spark, sf_dir, "documents"), spark)
    tok = d.select(
        "doc_id",
        tokens("text").alias("toks"),
        F.length("text").alias("n"),
        F.size(F.regexp_extract_all("text", F.lit(r"[^A-Za-z0-9\s]"), 0)).alias(
            "punct_cnt"
        ),
    )
    en = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    n_tok = F.size("toks")
    stop_ratio = F.when(
        n_tok > 0,
        F.size(F.filter("toks", lambda t: F.array_contains(en, t))).cast("double")
        / n_tok,
    ).otherwise(F.lit(0.0))
    punct_ratio = F.when(
        F.col("n") > 0, F.col("punct_cnt").cast("double") / F.col("n")
    ).otherwise(F.lit(0.0))
    len_score = F.least(F.lit(1.0), n_tok.cast("double") / F.lit(100.0))
    return tok.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        "punct_cnt",
        stop_ratio.alias("stopword_ratio"),
        punct_ratio.alias("punct_ratio"),
        len_score.alias("len_score"),
        (
            0.4 * stop_ratio + 0.3 * len_score + 0.3 * (F.lit(1.0) - punct_ratio)
        ).alias("quality"),
    )


# ---------------------------------------------------------------------------
# Fingerprinting: full-content md5 + min-hash over character 8-grams (a
# winnowing-style rolling fingerprint — the minimum of a rolling window of
# substring hashes).
# ---------------------------------------------------------------------------


@register(
    "doc_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5(text) AS content_md5,
           CASE WHEN length(text) >= 8 THEN
             list_min(list_transform(range(1, length(text) - 8 + 2),
               i -> {hash60_sql_duck("substr(text, i, 8)")}))
           END AS rolling_min_hash
    FROM documents
    """,
    description="Content fingerprints: exact md5 plus min-over-rolling-8-gram "
    "hash (winnowing-style), md5-derived so both engines agree bit-for-bit.",
    tags=("text", "fingerprint", "llm-pipeline"),
)
def doc_fingerprint(spark, sf_dir):
    # spread the raw scan: the rolling fingerprint hashes EVERY character
    # position (O(n_chars) md5s per document) — by far the heaviest
    # per-row expression in the text family. On the single input split of
    # a small scan it measured serial-linear (3.0 s at 5k docs -> 30.0 s
    # at 50k, one task); spread is a no-op once the input has >= cores
    # splits, so the 100 TB plan shape is unchanged.
    d = spread(T(spark, sf_dir, "documents"), spark)
    h = hash60_sql_spark("substr(text, i, 8)")
    return d.select(
        "doc_id",
        F.md5("text").alias("content_md5"),
        F.expr(
            f"CASE WHEN length(text) >= 8 THEN "
            f"array_min(transform(sequence(1, length(text) - 8 + 1), i -> {h})) "
            f"END"
        ).alias("rolling_min_hash"),
    )


# ---------------------------------------------------------------------------
# Corpus stats: CUBE over (lang, source) — counts and char volume at every
# grouping level in one pass.
# ---------------------------------------------------------------------------


@register(
    "doc_stats_cube",
    oracle="""
    SELECT lang, source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           count(DISTINCT source) AS n_sources
    FROM documents
    GROUP BY CUBE (lang, source)
    """,
    description="CUBE aggregate over (lang, source): corpus composition at "
    "all grouping levels in one pass.",
    tags=("text", "aggregate", "cube"),
)
def doc_stats_cube(spark, sf_dir):
    d = T(spark, sf_dir, "documents").select(
        "lang", "source", "n_chars", F.lit(1).alias("doc")
    )
    # Spark's cube expands nothing from no input row, so over an empty
    # table it would lose the grand-total row that the oracle's CUBE keeps
    # (SQL's ungrouped aggregate over no rows). One all-NULL row that no
    # aggregate counts is unioned in; the groups only it makes are dropped.
    nil = spark.range(1).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in d.schema]
    )
    return (
        d.unionByName(nil)
        .cube("lang", "source")
        .agg(
            F.count("doc").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.countDistinct("source").alias("n_sources"),
            F.grouping_id().alias("gid"),
        )
        .where((F.col("n_docs") > 0) | (F.col("gid") == 3))
        .drop("gid")
    )


# ---------------------------------------------------------------------------
# Per-document top terms (tf ranking — the keyword-extraction shape).
# ---------------------------------------------------------------------------


@register(
    "doc_top_terms",
    oracle=f"""
    SELECT doc_id, term, tf, rnk FROM (
      SELECT doc_id, term, tf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tf DESC, term) AS rnk
      FROM (
        SELECT doc_id, t AS term, count(*) AS tf
        FROM (SELECT doc_id, unnest({_TOK_DUCK}) AS t FROM documents)
        GROUP BY doc_id, t
      )
    ) WHERE rnk <= 3
    """,
    description="Top-3 terms per document by term frequency (explode -> "
    "count -> per-doc ranking window with WindowGroupLimit partial top-k; "
    "ties broken lexically). The inverted (term, doc, tf) intermediate is "
    "the index shape tf-idf and BM25 build on.",
    tags=("text", "topk", "llm-pipeline"),
    bench=True,
)
def doc_top_terms(spark, sf_dir):
    from pyspark.sql import Window

    # spread BY doc_id: hash(doc_id) partitioning satisfies the groupBy's
    # (doc_id, term) clustering AND the ranking window's doc_id clustering,
    # so the whole query runs on the one spread exchange (verified: 1
    # exchange total vs 3 with round-robin spread).
    d = spread(T(spark, sf_dir, "documents"), spark, by="doc_id")
    tf = (
        d.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tf").desc(), F.col("term"))
    return (
        tf.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tf", "rnk")
    )


# ---------------------------------------------------------------------------
# Document chunking: fixed-size token windows with overlap — the canonical
# LLM-training-data op (context-window packing), fully native (no UDF).
# ---------------------------------------------------------------------------

_CHUNK = 64  # tokens per chunk
_STRIDE = 48  # chunk start step (overlap = _CHUNK - _STRIDE)


@register(
    "doc_chunking",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_TOK_DUCK} AS toks FROM documents
    ),
    starts AS (
      SELECT doc_id, toks, len(toks) AS n,
             unnest(generate_series(0,
               CASE WHEN len(toks) = 0 THEN 0
                    ELSE CAST(floor((len(toks) - 1) / {_STRIDE}) AS BIGINT)
                         * {_STRIDE} END,
               {_STRIDE})) AS start
      FROM tok WHERE len(toks) > 0
    )
    SELECT doc_id, CAST(start AS BIGINT) AS chunk_start,
           CAST(least(start + {_CHUNK}, n) - start AS BIGINT) AS chunk_len,
           md5(array_to_string(toks[start + 1 : start + {_CHUNK}], ' '))
             AS chunk_md5
    FROM starts
    """,
    description=f"Context-window packing: overlapping {_CHUNK}-token chunks "
    f"every {_STRIDE} tokens per document, fully native (sequence + explode "
    "+ slice + concat_ws; chunk content fingerprinted with md5). The "
    "explode is partition-local — chunking 100 TB never shuffles.",
    tags=("text", "chunking", "llm-pipeline"),
)
def doc_chunking(spark, sf_dir):
    d = spread(T(spark, sf_dir, "documents"), spark)
    tok = d.select("doc_id", tokens("text").alias("toks")).filter(
        F.size("toks") > 0
    )
    starts = tok.select(
        "doc_id",
        "toks",
        F.size("toks").alias("n"),
        F.explode(
            F.expr(
                f"sequence(0, CAST(floor((size(toks) - 1) / {_STRIDE}) AS BIGINT)"
                f" * {_STRIDE}, {_STRIDE})"
            )
        ).alias("start"),
    )
    return starts.select(
        "doc_id",
        F.col("start").cast("long").alias("chunk_start"),
        (F.least(F.col("start") + _CHUNK, F.col("n")) - F.col("start"))
        .cast("long")
        .alias("chunk_len"),
        F.md5(
            F.concat_ws(" ", F.expr(f"slice(toks, start + 1, {_CHUNK})"))
        ).alias("chunk_md5"),
    )


# ---------------------------------------------------------------------------
# Deterministic dataset splits + stratified sampling + tf-idf.
# ---------------------------------------------------------------------------


@register(
    "dataset_split_assignment",
    oracle=f"""
    SELECT split, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM (
      SELECT n_chars,
             CASE WHEN bucket < 80 THEN 'train'
                  WHEN bucket < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM (
        SELECT n_chars,
               {hash60_sql_duck("CAST(doc_id AS VARCHAR)", seed=7)} % 100
                 AS bucket
        FROM documents
      )
    )
    GROUP BY split
    """,
    description="Reproducible 80/10/10 train/val/test split: bucket = "
    "md5-derived hash of doc_id mod 100 — stable across runs, machines, "
    "and engines (no rand()), the only sane way to split 100 TB. Grouped "
    "counts verify the assignment.",
    tags=("sampling", "split", "llm-pipeline"),
)
def dataset_split_assignment(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    bucket = F.expr(
        hash60_sql_spark("CAST(doc_id AS STRING)", seed=7)
    ) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        d.select(F.col("n_chars"), split.alias("split"))
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@register(
    "stratified_sample_per_lang",
    oracle=f"""
    SELECT doc_id, lang, rnk FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY {hash60_sql_duck("CAST(doc_id AS VARCHAR)", seed=11)},
                        doc_id
             ) AS rnk
      FROM documents
    ) WHERE rnk <= 20
    """,
    description="Deterministic stratified sample: 20 documents per language, "
    "chosen by ranking on an md5-derived hash (a reproducible shuffle) — "
    "per-stratum WindowGroupLimit, no rand(), identical sample every run.",
    tags=("sampling", "stratified", "llm-pipeline"),
)
def stratified_sample_per_lang(spark, sf_dir):
    from pyspark.sql import Window

    d = T(spark, sf_dir, "documents")
    h = F.expr(hash60_sql_spark("CAST(doc_id AS STRING)", seed=11))
    w = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id"))
    return (
        d.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 20)
        .select("doc_id", "lang", "rnk")
    )


@register(
    "tfidf_top_terms",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_TOK_DUCK} AS toks FROM documents),
    n_docs AS (SELECT count(*) AS n FROM documents),
    tf AS (
      SELECT doc_id, t AS term, count(*) AS tf
      FROM (SELECT doc_id, unnest(toks) AS t FROM tok)
      GROUP BY doc_id, t
    ),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
    SELECT doc_id, term,
           CAST(ROUND(tfidf_raw, 6) AS DOUBLE) AS tfidf, rnk
    FROM (
      SELECT tf.doc_id, tf.term,
             tf.tf * ln(CAST((SELECT n FROM n_docs) AS DOUBLE) / df.df)
               AS tfidf_raw,
             row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY tf.tf * ln(CAST((SELECT n FROM n_docs) AS DOUBLE)
                                   / df.df) DESC, tf.term
             ) AS rnk
      FROM tf JOIN df ON tf.term = df.term
    )
    WHERE rnk <= 3
    """,
    description="Top-3 tf-idf terms per document: term frequency x "
    "ln(N/doc-frequency), document-frequency table broadcast back onto the "
    "inverted index, per-doc ranking window. Rounded to 6 decimals so the "
    "ln() arithmetic is engine-portable.",
    tags=("text", "tfidf", "llm-pipeline"),
)
def tfidf_top_terms(spark, sf_dir):
    from pyspark.sql import Window

    d = spread(T(spark, sf_dir, "documents"), spark, by="doc_id")
    n_docs = T(spark, sf_dir, "documents").count()
    tf = (
        d.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = tf.join(F.broadcast(df_), "term").withColumn(
        "tfidf_raw",
        F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf_raw").desc(), F.col("term")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "doc_id",
            "term",
            F.round("tfidf_raw", 6).cast("double").alias("tfidf"),
            "rnk",
        )
    )


# ---------------------------------------------------------------------------
# Curation funnel: the composed keep/drop pipeline with per-stage counts —
# what a training-data run reports after each filter.
# ---------------------------------------------------------------------------

_MIN_TOKENS = 20
_MIN_STOPWORD_RATIO = 0.10


def _funnel_oracle() -> str:
    base = f"""
    WITH tok AS (
      SELECT doc_id, lang, text, md5(text) AS h, {_TOK_DUCK} AS toks
      FROM documents
    ),
    s1 AS (SELECT * FROM tok WHERE len(toks) >= {_MIN_TOKENS}),
    s2 AS (SELECT * FROM s1 WHERE lang = 'en'),
    s3 AS (SELECT * FROM s2 WHERE doc_id IN (
             SELECT min(doc_id) FROM s2 GROUP BY h)),
    s4 AS (SELECT * FROM s3 WHERE
             CAST(len(list_filter(toks, t -> list_contains([{_EN}], t)))
                  AS DOUBLE) / len(toks) >= {_MIN_STOPWORD_RATIO})
    """
    stages = [
        ("0_all", "tok"),
        ("1_min_length", "s1"),
        ("2_lang_en", "s2"),
        ("3_exact_dedup", "s3"),
        ("4_stopword_quality", "s4"),
    ]
    unions = " UNION ALL ".join(
        f"SELECT '{name}' AS stage, count(*) AS n_docs FROM {rel}"
        for name, rel in stages
    )
    return base + unions


@register(
    "curation_funnel",
    oracle=_funnel_oracle(),
    description=f"Training-data curation funnel with per-stage survivor "
    f"counts: all -> >= {_MIN_TOKENS} tokens -> lang=en -> exact dedup "
    f"(keep smallest doc_id per content hash) -> stopword ratio >= "
    f"{_MIN_STOPWORD_RATIO}. One tokenize pass feeds every stage; counts "
    "are cheap grouped aggregates of the same cached frame.",
    tags=("text", "curation", "dedup", "llm-pipeline"),
)
def curation_funnel(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    en = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    tok = d.select(
        "doc_id",
        "lang",
        F.md5("text").alias("h"),
        tokens("text").alias("toks"),
    ).persist()
    s1 = tok.filter(F.size("toks") >= _MIN_TOKENS)
    s2 = s1.filter(F.col("lang") == "en").persist()
    keepers = s2.groupBy("h").agg(F.min("doc_id").alias("doc_id"))
    s3 = s2.join(keepers, ["h", "doc_id"], "left_semi").persist()
    # NOT array_intersect (it dedups) — the ratio counts occurrences:
    stop_cnt = F.size(F.filter("toks", lambda t: F.array_contains(en, t)))
    s4 = s3.filter(
        stop_cnt.cast("double") / F.size("toks") >= _MIN_STOPWORD_RATIO
    )
    stages = [
        ("0_all", tok),
        ("1_min_length", s1),
        ("2_lang_en", s2),
        ("3_exact_dedup", s3),
        ("4_stopword_quality", s4),
    ]
    out = None
    for name, frame in stages:
        c = frame.agg(F.count("*").alias("n_docs")).select(
            F.lit(name).alias("stage"), "n_docs"
        )
        out = c if out is None else out.unionByName(c)
    return out


# ---------------------------------------------------------------------------
# PII masking: regex scrubbing before training (emails, long digit runs).
# Patterns kept in the portable subset shared by Java regex and RE2.
# ---------------------------------------------------------------------------

_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
_NUM_RE = "[0-9]{4,}"


@register(
    "text_pii_mask",
    oracle=f"""
    SELECT doc_id,
           md5(regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>',
                                             'g'),
                              '{_NUM_RE}', '<NUM>', 'g')) AS masked_md5,
           len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(text, '{_NUM_RE}')) AS n_long_numbers
    FROM documents
    """,
    description="PII scrubbing before training: mask emails and 4+-digit "
    "runs with regexp_replace (patterns in the Java-regex/RE2-portable "
    "subset), fingerprint the masked text, count what was masked. Pure "
    "scan, no shuffle.",
    tags=("text", "pii", "cleaning", "llm-pipeline"),
)
def text_pii_mask(spark, sf_dir):
    # spread the raw scan: four full-text regex passes per document
    # (two replaces, two extract_alls) measured serial-linear on the
    # single input split (4.0 s at 50k docs, one task).
    d = spread(T(spark, sf_dir, "documents"), spark)
    masked = F.regexp_replace(
        F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"), _NUM_RE, "<NUM>"
    )
    return d.select(
        "doc_id",
        F.md5(masked).alias("masked_md5"),
        F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE), 0)).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all("text", F.lit(_NUM_RE), 0)).alias(
            "n_long_numbers"
        ),
    )


# ---------------------------------------------------------------------------
# Intra-document repetition (Gopher/RefinedWeb-style quality rule) and the
# language-ID confusion matrix.
# ---------------------------------------------------------------------------


@register(
    "intradoc_repetition",
    oracle="""
    WITH sent AS (
      SELECT doc_id,
             list_filter(list_transform(string_split(text, '.'),
                                        s -> trim(s)), s -> s <> '')
               AS sentences
      FROM documents
    )
    SELECT doc_id,
           len(sentences) AS n_sentences,
           len(list_distinct(sentences)) AS n_distinct,
           CASE WHEN len(sentences) > 0 THEN
             CAST(len(sentences) - len(list_distinct(sentences)) AS DOUBLE)
               / len(sentences)
           ELSE 0.0 END AS dup_sentence_fraction
    FROM sent
    """,
    description="Intra-document repetition (the Gopher-style quality rule): "
    "sentence-split each document, count exact duplicate sentences, report "
    "the duplicate fraction — high values flag boilerplate/spam for the "
    "curation funnel. Pure scan, array ops only.",
    tags=("text", "quality", "repetition", "llm-pipeline"),
)
def intradoc_repetition(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    sentences = F.filter(
        F.transform(F.split("text", r"\."), lambda s: F.trim(s)),
        lambda s: s != "",
    )
    out = d.select("doc_id", sentences.alias("sentences"))
    n = F.size("sentences")
    nd = F.size(F.array_distinct("sentences"))
    return out.select(
        "doc_id",
        n.alias("n_sentences"),
        nd.alias("n_distinct"),
        F.when(n > 0, (n - nd).cast("double") / n)
        .otherwise(F.lit(0.0))
        .alias("dup_sentence_fraction"),
    )


def _confusion_oracle() -> str:
    scores = lang_scores_sql_duck("toks")
    pred = argmax_lang_sql_duck(scores)
    return f"""
    WITH tok AS (SELECT doc_id, lang, {_TOK_DUCK} AS toks FROM documents),
    pred AS (SELECT doc_id, lang, {pred} AS lang_pred FROM tok)
    SELECT lang AS labeled, lang_pred AS predicted, count(*) AS n
    FROM pred GROUP BY lang, lang_pred
    """


@register(
    "lang_confusion_matrix",
    oracle=_confusion_oracle(),
    description="Label-vs-prediction confusion matrix for the heuristic "
    "language ID over the stored lang column — the evaluation query a "
    "curation pipeline runs before trusting a classifier as a filter.",
    tags=("text", "evaluation", "llm-pipeline"),
)
def lang_confusion_matrix(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    # spread AFTER tokenizing (same rationale as text_lang_id): barrier
    # against score-lambda re-inlining + parallel scoring.
    tok = spread(
        d.select("doc_id", "lang", tokens("text").alias("toks")), spark
    )
    scores = lang_scores(F.col("toks"))
    pred = tok.select("lang", argmax_lang(scores).alias("lang_pred"))
    return pred.groupBy(
        F.col("lang").alias("labeled"), F.col("lang_pred").alias("predicted")
    ).agg(F.count("*").alias("n"))


# ---------------------------------------------------------------------------
# Sequence packing: GPT-style concat-and-split. Documents are concatenated
# per language in doc_id order and the token stream is cut every _SEQ_LEN
# tokens; each document therefore occupies sequences [seq_first, seq_last].
# The training-relevant outputs: which sequence(s) each doc lands in and
# whether it straddles a cut (attention-mask / doc-boundary bookkeeping).
# ---------------------------------------------------------------------------

_SEQ_LEN = 512


@register(
    "sequence_packing",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, len({_TOK_DUCK}) AS n_tokens FROM documents
    ),
    packed AS (
      SELECT doc_id, lang, n_tokens,
             CAST(sum(n_tokens) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) - n_tokens AS BIGINT) AS tok_start
      FROM tok
    )
    SELECT doc_id, lang, n_tokens, tok_start,
           CAST(floor(tok_start / {_SEQ_LEN}) AS BIGINT) AS seq_first,
           CAST(greatest(
             floor(tok_start / {_SEQ_LEN}),
             floor((tok_start + n_tokens - 1) / {_SEQ_LEN})
           ) AS BIGINT) AS seq_last
    FROM packed
    """,
    description=f"Sequence packing (concat-and-split, budget {_SEQ_LEN} "
    "tokens): per-language running token offset in doc_id order, computed "
    "WITHOUT a per-language global window — range-partition on (lang, "
    "doc_id), window per range partition, then add per-(partition, lang) "
    "token offsets from a small aggregate joined back (same two-level "
    "scheme as customer_spend_quartiles' distributed rank). The oracle is "
    "the plain prefix-sum window.",
    tags=("text", "packing", "distributed-rank", "llm-pipeline"),
    bench=True,
)
def sequence_packing(spark, sf_dir):
    from pyspark.sql import Window

    d = T(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "lang", F.size(tokens("text")).alias("n_tokens")
    )
    # Two-level distributed prefix sum. persist() pins one set of range
    # boundaries so the offsets branch and the main branch agree on the
    # partitioning (RangePartitioner samples per job).
    parts = (
        tok.repartitionByRange(32, "lang", "doc_id")
        .withColumn("__pid", F.spark_partition_id())
        .persist()
    )
    wl = Window.partitionBy("__pid", "lang").orderBy("doc_id")
    local = parts.withColumn(
        "__lsum", F.sum("n_tokens").over(wl) - F.col("n_tokens")
    )
    totals = parts.groupBy("__pid", "lang").agg(
        F.sum("n_tokens").alias("__ptok")
    )
    # scale-ok: window over one row per (range partition, lang) — tiny
    wo = (
        Window.partitionBy("lang")
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "__pid",
        "lang",
        F.coalesce(F.sum("__ptok").over(wo), F.lit(0)).alias("__off"),
    )
    packed = local.join(F.broadcast(offsets), ["__pid", "lang"]).withColumn(
        "tok_start", F.col("__lsum") + F.col("__off")
    )
    seq_first = F.floor(F.col("tok_start") / _SEQ_LEN)
    seq_last = F.greatest(
        seq_first,
        F.floor((F.col("tok_start") + F.col("n_tokens") - 1) / _SEQ_LEN),
    )
    return packed.select(
        "doc_id",
        "lang",
        "n_tokens",
        "tok_start",
        seq_first.cast("long").alias("seq_first"),
        seq_last.cast("long").alias("seq_last"),
    )


# ---------------------------------------------------------------------------
# Vocabulary / Zipf statistics: corpus-level term-frequency head with
# rank-frequency coordinates, plus vocabulary-size and hapax counts. The
# tokenizer-design evidence: how head-heavy the corpus is and how much of
# the token mass the top of the vocabulary covers.
# ---------------------------------------------------------------------------

_ZIPF_TOP = 200


@register(
    "vocab_zipf_stats",
    oracle=f"""
    WITH tok AS (SELECT {_TOK_DUCK} AS toks FROM documents),
    terms AS (SELECT unnest(toks) AS term FROM tok),
    counts AS (SELECT term, count(*) AS freq FROM terms GROUP BY term),
    tot AS (
      SELECT CAST(sum(freq) AS DOUBLE) AS total_tokens,
             count(*) AS vocab_size,
             CAST(sum(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS hapax_count
      FROM counts
    ),
    ranked AS (
      SELECT term, freq,
             row_number() OVER (ORDER BY freq DESC, term) AS rank
      FROM counts
    )
    SELECT r.rank, r.term, r.freq,
           round(ln(r.rank), 6) AS ln_rank,
           round(ln(r.freq), 6) AS ln_freq,
           CAST(ROUND(CAST(sum(r.freq) OVER (ORDER BY r.rank)
                           / t.total_tokens AS DECIMAL(27,12)), 6) AS DOUBLE)
             AS cum_share,
           t.vocab_size, t.hapax_count
    FROM ranked r CROSS JOIN tot t
    WHERE r.rank <= {_ZIPF_TOP}
    """,
    description=f"Zipf head: top-{_ZIPF_TOP} terms by corpus frequency with "
    "log-log rank-frequency coordinates, cumulative token-mass share, and "
    "constant vocab-size / hapax columns. Term counts are one map-side-"
    "combined shuffle; the head is a distributed TakeOrdered (never a "
    "global window over the vocabulary); the cumulative window runs on "
    f"{_ZIPF_TOP} rows.",
    tags=("text", "vocab", "llm-pipeline"),
)
def vocab_zipf_stats(spark, sf_dir):
    from pyspark.sql import Window

    # spread the raw scan so tokenize + explode feed the term count from
    # all cores (measured serial on the single input split: 2.0 s at 50k
    # docs, one task up to the groupBy exchange).
    d = spread(T(spark, sf_dir, "documents"), spark)
    counts = (
        d.select(F.explode(tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("freq"))
    )
    tot = counts.agg(
        F.sum("freq").cast("double").alias("total_tokens"),
        F.count("*").alias("vocab_size"),
        F.sum(F.when(F.col("freq") == 1, 1).otherwise(0)).alias(
            "hapax_count"
        ),
    )
    head = (
        counts.orderBy(F.col("freq").desc(), "term").limit(_ZIPF_TOP)
    )
    # scale-ok: windows below run on the _ZIPF_TOP-row head only
    wr = Window.orderBy(F.col("freq").desc(), "term")
    wc = Window.orderBy("rank")  # scale-ok: _ZIPF_TOP-row head only
    return (
        head.withColumn("rank", F.row_number().over(wr))
        .crossJoin(F.broadcast(tot))  # scale-ok: 1-row totals
        .select(
            "rank",
            "term",
            "freq",
            F.round(F.log("rank"), 6).alias("ln_rank"),
            F.round(F.log("freq"), 6).alias("ln_freq"),
            r6(F.sum("freq").over(wc) / F.col("total_tokens"))
            .alias("cum_share"),
            "vocab_size",
            "hapax_count",
        )
    )


# ---------------------------------------------------------------------------
# Code-switch profile: segment-level language mixing WITHIN a document.
#
# The doc-level language ID (text_lang_id) hides intra-document mixing —
# the thing that actually degrades monolingual training slices. This
# operator re-runs the same stopword-lexicon argmax on consecutive
# 10-token segments and reports per doc: segment count, adjacent-segment
# language switches, the dominant segment language with its per-mille
# share, and a mixed flag. On this corpus the observable mixing is
# en <-> und (the synthetic texts carry only English stopwords — measured;
# the multilingual semantics are pinned by a planted mixed-language
# fixture in tests/test_r7_session5.py).
#
# Scale: embarrassingly parallel per-document expression work — one
# projection after the tokenize, zero shuffles; the segment lambda is
# bounded by the doc's own token count. Same spread-after-tokenize
# barrier as text_lang_id (CollapseProject would otherwise re-inline the
# tokenizer into every per-segment score).
# ---------------------------------------------------------------------------

_CSW_SEG = 10  # tokens per segment


def _csw_seg_langs_spark() -> str:
    """Spark SQL: array of per-segment argmax languages from ``toks``."""
    seg = f"slice(toks, s * {_CSW_SEG} + 1, {_CSW_SEG})"
    scores = {}
    for lang, words in STOPWORDS.items():
        lst = ", ".join(f"'{w}'" for w in words)
        scores[lang] = (
            f"size(array_intersect(array_distinct({seg}), array({lst})))"
        )
    mx = "greatest(" + ", ".join(scores[lang] for lang in LANG_ORDER) + ")"
    pred = "'und'"
    for lang in reversed(LANG_ORDER):
        pred = (
            f"CASE WHEN {mx} > 0 AND {scores[lang]} = {mx} "
            f"THEN '{lang}' ELSE {pred} END"
        )
    return (
        "CASE WHEN size(toks) = 0 THEN CAST(array() AS ARRAY<STRING>) "
        f"ELSE transform(sequence(0, CAST(ceil(size(toks) / {_CSW_SEG}.0) "
        f"AS INT) - 1), s -> {pred}) END"
    )


def _csw_seg_langs_duck() -> str:
    # The segment scores and argmax come from the SHARED lexicon builders
    # (functions/text.py) — one definition of "language of a token list"
    # across text_lang_id, the confusion matrix, and this profile.
    seg = f"list_slice(toks, s * {_CSW_SEG} + 1, s * {_CSW_SEG} + {_CSW_SEG})"
    pred = argmax_lang_sql_duck(lang_scores_sql_duck(seg))
    return (
        "CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[]) "
        f"ELSE list_transform(range(CAST(ceil(len(toks) / {_CSW_SEG}.0) "
        f"AS INT)), s -> {pred}) END"
    )


def _csw_report_cols(sl: str, idx, cnt, distinct_n) -> dict[str, str]:
    """Engine-generic report expressions over the segment-language array.

    ``idx(arr, i)``: 1-based element access; ``cnt(x)``: count of segments
    equal to literal x; ``distinct_n``: distinct element count.
    """
    counts = {lang: cnt(lang) for lang in [*LANG_ORDER, "und"]}
    mx = "greatest(" + ", ".join(counts.values()) + ")"
    dom = "'und'"
    for lang in reversed([*LANG_ORDER, "und"]):
        dom = f"CASE WHEN {counts[lang]} = {mx} THEN '{lang}' ELSE {dom} END"
    return {
        "n_segments": f"CAST(len_({sl}) AS BIGINT)",
        "n_switches": (
            f"CAST(CASE WHEN len_({sl}) <= 1 THEN 0 ELSE "
            f"len_(filter_(seq2_({sl}), i -> "
            f"{idx(sl, 'i')} <> {idx(sl, 'i - 1')})) END AS BIGINT)"
        ),
        "dominant_lang": f"CASE WHEN len_({sl}) = 0 THEN 'und' ELSE {dom} END",
        "dominant_per_mille": (
            f"CAST(CASE WHEN len_({sl}) = 0 THEN 0 "
            f"ELSE 1000 * {mx} // len_({sl}) END AS BIGINT)"
        ),
        "is_mixed": f"{distinct_n} > 1",
    }


def _csw_oracle() -> str:
    sl = "sl"
    cols = _csw_report_cols(
        sl,
        idx=lambda a, i: f"{a}[{i}]",
        cnt=lambda x: f"len(list_filter({sl}, x -> x = '{x}'))",
        distinct_n=f"len(list_distinct({sl}))",
    )
    sel = ", ".join(
        expr.replace("len_(", "len(")
        .replace("filter_(", "list_filter(")
        .replace(f"seq2_({sl})", f"range(2, len({sl}) + 1)")
        + f" AS {name}"
        for name, expr in cols.items()
    )
    return f"""
    WITH tok AS (SELECT doc_id, lang, {_TOK_DUCK} AS toks FROM documents),
    segs AS (SELECT doc_id, lang, {_csw_seg_langs_duck()} AS sl FROM tok)
    SELECT doc_id, lang, {sel} FROM segs
    """


@register(
    "doc_code_switch_profile",
    oracle=_csw_oracle(),
    description="Intra-document language mixing (code-switching) profile: "
    "the stopword-lexicon language argmax re-run per consecutive "
    f"{_CSW_SEG}-token segment, reporting segments, adjacent-segment "
    "switches, the dominant segment language with per-mille share, and a "
    "mixed flag — the gate that catches documents a doc-level language ID "
    "admits into a monolingual slice despite mixed content. Per-document "
    "expression work only (no shuffle); integer shares. Multilingual "
    "semantics pinned by a planted mixed-language fixture.",
    tags=("text", "lang-id", "curation", "llm-pipeline"),
    bench=True,  # promoted r7 s5: the language-mixing flagship
)
def doc_code_switch_profile(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    # spread AFTER tokenizing (the text_lang_id idiom): exchange barrier
    # so the per-segment score lambdas don't re-inline the tokenizer.
    tok = spread(
        d.select("doc_id", "lang", tokens("text").alias("toks")), spark
    )
    segs = tok.select(
        "doc_id", "lang", F.expr(_csw_seg_langs_spark()).alias("sl")
    )
    cols = _csw_report_cols(
        "sl",
        idx=lambda a, i: f"element_at({a}, {i})",
        cnt=lambda x: f"size(filter(sl, x -> x = '{x}'))",
        distinct_n="size(array_distinct(sl))",
    )
    sel = [
        F.expr(
            expr.replace("len_(", "size(")
            .replace("filter_(", "filter(")
            .replace("seq2_(sl)", "sequence(2, size(sl))")
            .replace(" // ", " div ")
        ).alias(name)
        for name, expr in cols.items()
    ]
    return segs.select("doc_id", "lang", *sel)
