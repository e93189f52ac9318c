"""Second-wave corpus audits for the training-data pipeline.

Builds on the wave-1 curation suite (plans/curation.py) with the audits a
production corpus team runs *after* the first curation pass is wired up:

- **split leakage** — near-duplicate pairs that straddle train/val/test,
  the classic silent-eval-inflation bug (composes the MinHash+LSH pair
  detector with the deterministic hash-split);
- **document rarity** — mean corpus document-frequency of each document's
  distinct tokens: boilerplate scores common, novel content scores rare —
  a cheap informativeness prior for sampling weights;
- **vocabulary growth** — new-type counts per doc_id block and the
  cumulative vocabulary curve (Heaps'-law view): the diminishing-returns
  evidence for "is more of this source still adding anything?";
- **event debounce** — accidental rapid-fire duplicate interactions
  (same user+type within 300 s) flagged via one lag window, the event-log
  twin of document dedup;
- **near-dup triangles** — per-node triangle counts over the near-dup
  graph: triangle-dense neighborhoods are template families (cluster
  cores), sparse stars are chain false-positives;
- **quality quantile normalization** — per-source percent-rank of the
  quality composite, making scores comparable across sources before a
  global threshold is applied.

All native DataFrame expressions (no UDFs); every query has a DuckDB
oracle, composed from the stage oracles it audits where applicable. Count
ratios go through the decimal ROUND recipe (see plans/_util.py) so both
engines make identical half-boundary decisions.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from datalakes_and_data_integration_spark.functions.hashing import (
    hash60_sql_duck,
    hash60_sql_spark,
)
from datalakes_and_data_integration_spark.functions.text import (
    tokens,
    tokens_sql_duck,
)
from datalakes_and_data_integration_spark.plans._util import T, r6, spread
from datalakes_and_data_integration_spark.plans.registry import register

_TOK_DUCK = tokens_sql_duck("text")


# ---------------------------------------------------------------------------
# Split-leakage audit: near-dup pairs straddling train/val/test.
# ---------------------------------------------------------------------------


def _split_case_duck(col: str) -> str:
    h = hash60_sql_duck(f"CAST({col} AS VARCHAR)", seed=7)
    return (
        f"CASE WHEN ({h} % 100) < 80 THEN 'train' "
        f"WHEN ({h} % 100) < 90 THEN 'val' ELSE 'test' END"
    )


def _split_col_spark(col: str):
    bucket = F.expr(hash60_sql_spark(f"CAST({col} AS STRING)", seed=7)) % 100
    return (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )


def _leakage_oracle() -> str:
    from datalakes_and_data_integration_spark.plans.dedup import (
        _minhash_oracle,
    )

    sa, sb = _split_case_duck("doc_a"), _split_case_duck("doc_b")
    return f"""
    WITH pairs AS ({_minhash_oracle()}),
    labeled AS (
      SELECT least({sa}, {sb}) AS split_lo,
             greatest({sa}, {sb}) AS split_hi
      FROM pairs
    )
    SELECT split_lo, split_hi, count(*) AS n_pairs,
           split_lo <> split_hi AS is_leak
    FROM labeled GROUP BY split_lo, split_hi
    """


@register(
    "split_leakage_audit",
    oracle=_leakage_oracle(),
    description="Eval-leakage audit: verified MinHash+LSH near-dup pairs "
    "bucketed by the (split_a, split_b) assignment of their endpoints "
    "(same seed-7 hash split as dataset_split_assignment, recomputed — "
    "no join needed, the split is a pure function of doc_id); any "
    "cross-split row is a leak the splitter must fix (cluster-aware "
    "splitting). Scale shape: inherits the LSH candidate bound, then a "
    "9-row-max groupBy — the audit adds no shuffle of corpus data.",
    tags=("curation", "leakage", "split", "llm-pipeline"),
)
def split_leakage_audit(spark, sf_dir):
    from datalakes_and_data_integration_spark.plans.dedup import (
        dedup_minhash_lsh,
    )

    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    sa, sb = _split_col_spark("doc_a"), _split_col_spark("doc_b")
    labeled = pairs.select(
        F.least(sa, sb).alias("split_lo"), F.greatest(sa, sb).alias("split_hi")
    )
    return (
        labeled.groupBy("split_lo", "split_hi")
        .agg(F.count("*").alias("n_pairs"))
        .select(
            "split_lo",
            "split_hi",
            "n_pairs",
            (F.col("split_lo") != F.col("split_hi")).alias("is_leak"),
        )
    )


# ---------------------------------------------------------------------------
# Document rarity: mean corpus document-frequency of a doc's distinct
# tokens (as a fraction of the corpus), and rarity = 1 - that.
# ---------------------------------------------------------------------------


@register(
    "doc_rarity_score",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, list_distinct({_TOK_DUCK}) AS toks FROM documents
    ),
    ex AS (SELECT doc_id, unnest(toks) AS t FROM tok WHERE len(toks) > 0),
    dfreq AS (SELECT t, count(*) AS df FROM ex GROUP BY t),
    nd AS (SELECT count(*) AS n_docs FROM documents),
    per_doc AS (
      SELECT e.doc_id, count(*) AS n_types,
             CAST(sum(df) AS BIGINT) AS sum_df
      FROM ex e JOIN dfreq USING (t) GROUP BY e.doc_id
    )
    SELECT doc_id, n_types, sum_df,
           CAST(ROUND(CAST(CAST(sum_df AS DOUBLE)
                           / (n_types * (SELECT n_docs FROM nd))
                           AS DECIMAL(27,12)), 6) AS DOUBLE) AS mean_doc_freq,
           CAST(ROUND(CAST(1.0 - CAST(sum_df AS DOUBLE)
                           / (n_types * (SELECT n_docs FROM nd))
                           AS DECIMAL(27,12)), 6) AS DOUBLE) AS rarity
    FROM per_doc
    """,
    description="Informativeness prior: per document, the mean corpus "
    "document-frequency of its distinct tokens (as a fraction of corpus "
    "size) — boilerplate scores near 1, novel text near 0; rarity is the "
    "complement. Scale shape: explode distinct tokens once, map-side "
    "combined groupBy(token) for the document-frequency table, then the "
    "token-keyed join reuses the groupBy's hash partitioning (one "
    "exchange per side, AQE handles hot-token skew); the corpus-size "
    "scalar is a broadcast one-row cross join, not a collect.",
    tags=("curation", "rarity", "llm-pipeline"),
)
def doc_rarity_score(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    n_docs = F.broadcast(d.agg(F.count("*").alias("n_docs")))
    tok = spread(
        d.select("doc_id", F.array_distinct(tokens("text")).alias("toks")),
        spark,
    )
    ex = tok.filter(F.size("toks") > 0).select(
        "doc_id", F.explode("toks").alias("t")
    )
    dfreq = ex.groupBy("t").agg(F.count("*").alias("df"))
    per_doc = (
        ex.join(dfreq, "t")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_types"), F.sum("df").alias("sum_df"))
    )
    ratio = F.col("sum_df").cast("double") / (
        F.col("n_types") * F.col("n_docs")
    )
    # scale-ok: n_docs is a broadcast one-row aggregate (scalar fan-in)
    return per_doc.crossJoin(n_docs).select(
        "doc_id",
        "n_types",
        "sum_df",
        r6(ratio).alias("mean_doc_freq"),
        r6(F.lit(1.0) - ratio).alias("rarity"),
    )


# ---------------------------------------------------------------------------
# Vocabulary growth (Heaps'-law curve) over doc_id blocks.
# ---------------------------------------------------------------------------

_VG_BLOCK = 250  # docs per block


@register(
    "vocab_growth_curve",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, CAST(doc_id // {_VG_BLOCK} AS BIGINT) AS block,
             {_TOK_DUCK} AS toks
      FROM documents
    ),
    ex AS (SELECT block, unnest(toks) AS t FROM tok),
    firstb AS (SELECT t, min(block) AS fb FROM ex GROUP BY t),
    newt AS (SELECT fb AS block, count(*) AS n_new_types FROM firstb
             GROUP BY fb),
    occ AS (SELECT block, count(*) AS n_occurrences,
                   count(DISTINCT t) AS n_types_in_block
            FROM ex GROUP BY block),
    docs AS (SELECT block, count(*) AS n_docs FROM tok GROUP BY block)
    SELECT d.block, d.n_docs, o.n_occurrences, o.n_types_in_block,
           COALESCE(n.n_new_types, 0) AS n_new_types,
           CAST(sum(COALESCE(n.n_new_types, 0)) OVER (ORDER BY d.block)
                AS BIGINT) AS cum_vocab
    FROM docs d
    JOIN occ o USING (block)
    LEFT JOIN newt n USING (block)
    """,
    description=f"Vocabulary growth: documents in doc_id blocks of "
    f"{_VG_BLOCK}, per block the token occurrences, distinct types, types "
    "whose FIRST corpus occurrence is in that block, and the cumulative "
    "vocabulary (the Heaps'-law curve) — the diminishing-returns evidence "
    "for whether more of a source still adds new language. Scale shape: "
    "one explode, two map-side-combined groupBys (token->min-block, "
    "block->counts); the cumulative window runs on the tiny per-block "
    "aggregate, never on token rows.",
    tags=("curation", "vocabulary", "llm-pipeline"),
)
def vocab_growth_curve(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    tok = spread(
        d.select(
            F.expr(f"doc_id div {_VG_BLOCK}").alias("block"),
            tokens("text").alias("toks"),
        ),
        spark,
    )
    ex = tok.select("block", F.explode("toks").alias("t"))
    firstb = ex.groupBy("t").agg(F.min("block").alias("fb"))
    newt = firstb.groupBy(F.col("fb").alias("block")).agg(
        F.count("*").alias("n_new_types")
    )
    occ = ex.groupBy("block").agg(
        F.count("*").alias("n_occurrences"),
        F.countDistinct("t").alias("n_types_in_block"),
    )
    docs = tok.groupBy("block").agg(F.count("*").alias("n_docs"))
    # (The cumulative sum below runs on corpus_size / _VG_BLOCK rows.)
    # scale-ok: window orders the tiny per-block aggregate, not token rows
    w = Window.orderBy("block").rowsBetween(Window.unboundedPreceding, 0)
    return (
        docs.join(occ, "block")
        .join(newt, "block", "left_outer")
        .select(
            "block",
            "n_docs",
            "n_occurrences",
            "n_types_in_block",
            F.coalesce("n_new_types", F.lit(0)).alias("n_new_types"),
        )
        .withColumn(
            "cum_vocab", F.sum("n_new_types").over(w).cast("bigint")
        )
    )


# ---------------------------------------------------------------------------
# Event debounce: rapid-fire duplicate interactions per (user, type).
# ---------------------------------------------------------------------------

_DEBOUNCE_S = 300


@register(
    "event_debounce",
    oracle=f"""
    WITH secs AS (
      SELECT event_type, user_id, ts, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS sec
      FROM events
    ),
    g AS (
      SELECT event_type,
             sec - lag(sec) OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) AS gap_s
      FROM secs
    )
    SELECT event_type,
           count(*) AS n_events,
           count(CASE WHEN gap_s IS NOT NULL AND gap_s < {_DEBOUNCE_S}
                 THEN 1 END) AS n_debounced,
           count(*) - count(CASE WHEN gap_s IS NOT NULL
                            AND gap_s < {_DEBOUNCE_S} THEN 1 END) AS n_kept
    FROM g GROUP BY event_type
    """,
    description=f"Event-log debounce: events repeating the previous same "
    f"(user, type) event within {_DEBOUNCE_S} s are accidental rapid-fire "
    "duplicates (double-clicks, retries) — flagged via one lag window "
    "over integer seconds (exact), reported as per-type kept/debounced "
    "counts. Scale shape: a single shuffle on the composite window key, "
    "then a map-side-combined groupBy; the interaction-log twin of "
    "document dedup.",
    tags=("temporal", "dedup", "debounce", "llm-pipeline"),
)
def event_debounce(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    g = ev.select(
        "event_type",
        (
            F.expr("unix_micros(ts) div 1000000")
            - F.expr(
                "lag(unix_micros(ts) div 1000000) OVER (PARTITION BY "
                "user_id, event_type ORDER BY ts, event_id)"
            )
        ).alias("gap_s"),
    )
    debounced = F.col("gap_s").isNotNull() & (F.col("gap_s") < _DEBOUNCE_S)
    return g.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.count(F.when(debounced, 1)).alias("n_debounced"),
        (F.count("*") - F.count(F.when(debounced, 1))).alias("n_kept"),
    )


# ---------------------------------------------------------------------------
# Near-dup graph triangles: per-node triangle participation counts.
# ---------------------------------------------------------------------------


def _triangle_oracle() -> str:
    from datalakes_and_data_integration_spark.plans.dedup import (
        _minhash_oracle,
    )
    from datalakes_and_data_integration_spark.plans.graph import tri_sql

    return f"""
    WITH pairs AS ({_minhash_oracle()}),
    {tri_sql()},
    nodes AS (
      SELECT x AS node FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    )
    SELECT node, count(*) AS n_triangles FROM nodes GROUP BY node
    """


@register(
    "neardup_triangle_count",
    oracle=_triangle_oracle(),
    description="Near-dup graph triangle census: per document, the number "
    "of triangles it participates in over the verified MinHash+LSH pair "
    "graph — triangle-dense neighborhoods are genuine template families "
    "(cluster cores), triangle-free stars are chain false-positives worth "
    "re-verifying. Edges are doc_id-oriented (a<b<c counted once), the "
    "standard skew guard; both joins key on a node id, so the shape is "
    "two edge-table shuffles bounded by the candidate-pair count, never "
    "by the corpus.",
    tags=("graph", "dedup", "triangles", "llm-pipeline"),
)
def neardup_triangle_count(spark, sf_dir):
    from datalakes_and_data_integration_spark.plans.dedup import (
        dedup_minhash_lsh,
    )

    from datalakes_and_data_integration_spark.plans.graph import tri_frame

    e = (
        dedup_minhash_lsh(spark, sf_dir)
        .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .persist()
    )
    tri = tri_frame(e)
    nodes = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
    )
    return nodes.groupBy("node").agg(F.count("*").alias("n_triangles"))


# ---------------------------------------------------------------------------
# Quality quantile normalization: per-source percent-rank of the quality
# composite, on the aggregated distinct-value table (not raw rows).
# ---------------------------------------------------------------------------


def _qqn_oracle() -> str:
    from datalakes_and_data_integration_spark.plans.curation import (
        _quality_duck,
    )

    return f"""
    WITH quality AS ({_quality_duck()}),
    q AS (
      SELECT q.doc_id, d.source, q.quality
      FROM quality q JOIN documents d USING (doc_id)
    ),
    vals AS (SELECT source, quality, count(*) AS n FROM q
             GROUP BY source, quality),
    ranked AS (
      SELECT source, quality,
             CAST(sum(n) OVER (PARTITION BY source ORDER BY quality) - n
                  AS BIGINT) AS n_below,
             CAST(sum(n) OVER (PARTITION BY source) AS BIGINT) AS n_source
      FROM vals
    )
    SELECT q.doc_id, q.source, q.quality,
           CASE WHEN n_source > 1 THEN
             CAST(ROUND(CAST(CAST(n_below AS DOUBLE) / (n_source - 1)
                             AS DECIMAL(27,12)), 6) AS DOUBLE)
           ELSE 0.0 END AS pct_rank
    FROM q JOIN ranked USING (source, quality)
    """


@register(
    "quality_quantile_normalization",
    oracle=_qqn_oracle(),
    description="Cross-source score calibration: percent-rank of each "
    "document's quality composite WITHIN its source (ties share a rank, "
    "the SQL percent_rank semantics), so a global keep-threshold compares "
    "like with like across sources with different score distributions. "
    "Scale shape: the rank window runs on the aggregated DISTINCT "
    "(source, quality) table — a per-source sort of score values, not of "
    "documents — and rows get their rank back via a join that reuses the "
    "aggregation's partitioning; the raw-row window form would sort whole "
    "sources (few, huge partitions) and is exactly what this avoids.",
    tags=("curation", "quality", "normalization", "llm-pipeline"),
)
def quality_quantile_normalization(spark, sf_dir):
    from datalakes_and_data_integration_spark.plans.text import (
        text_quality_score,
    )

    d = T(spark, sf_dir, "documents").select("doc_id", "source")
    q = (
        text_quality_score(spark, sf_dir)
        .select("doc_id", "quality")
        .join(d, "doc_id")
    )
    vals = q.groupBy("source", "quality").agg(F.count("*").alias("n"))
    w_ord = (
        Window.partitionBy("source")
        .orderBy("quality")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("source")
    ranked = vals.select(
        "source",
        "quality",
        (F.sum("n").over(w_ord) - F.col("n")).cast("bigint").alias("n_below"),
        F.sum("n").over(w_all).cast("bigint").alias("n_source"),
    )
    pct = F.when(
        F.col("n_source") > 1,
        r6(F.col("n_below").cast("double") / (F.col("n_source") - 1)),
    ).otherwise(F.lit(0.0))
    return q.join(ranked, ["source", "quality"]).select(
        "doc_id", "source", "quality", pct.alias("pct_rank")
    )
