"""Statistical language-model scoring for corpus curation.

The classic data-quality signal the big LLM pipelines (CCNet, Gopher,
RefinedWeb) compute per document is LM surprise: train a small n-gram LM
on the corpus (or a trusted subset) and score each document's
cross-entropy under it — high-perplexity docs are noise/garble, very low
ones are boilerplate. The reference has no LM stage; this is part of the
training-data extension suite (SURVEY.md §6).

Distributed shape (the part that matters at 100 TB):

- Pass 1 (train): one shuffle of the bigram stream with map-side combine
  — the reduced state is the LM table, bounded by vocab² regardless of
  corpus size.
- Pass 2 (score): the LM table joins back to the per-doc bigram stream
  BROADCAST (it is dim-sized), so document rows never shuffle to score;
  the per-doc aggregation then groups on doc_id only.

Registered after the round-2 driver-window cutoff (see plans/__init__.py).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datalakes_and_data_integration_spark.plans._util import T, r6, spread
from datalakes_and_data_integration_spark.plans.registry import register

# Both engines compute the identical double expression per bigram type:
#   nll = -ln((c12 + 1) / (c1 + V))          (add-one smoothed)
# then decimal-sum the per-occurrence terms and decimal-round the mean, so
# the only float ops are bit-identical ln/div on identical inputs (the
# recipe proven by source_lang_entropy and the _util.py docstring).


@register(
    "ngram_lm_perplexity",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    big AS (
      SELECT doc_id, t[CAST(i AS INT)] AS w1, t[CAST(i AS INT) + 1] AS w2
      FROM toks, UNNEST(range(1, len(t))) AS r(i)
    ),
    bc AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY w1, w2),
    uc AS (SELECT w1, sum(c12) AS c1 FROM bc GROUP BY w1),
    v AS (
      SELECT count(DISTINCT w) AS vsz
      FROM (SELECT unnest(t) AS w FROM toks)
    ),
    lm AS (
      SELECT w1, w2,
             -ln(CAST(c12 + 1 AS DOUBLE) / CAST(c1 + vsz AS DOUBLE)) AS nll
      FROM bc JOIN uc USING (w1) CROSS JOIN v
    )
    SELECT b.doc_id,
           count(*) AS n_bigrams,
           CAST(ROUND(CAST(CAST(sum(CAST(lm.nll AS DECIMAL(27,12))) AS DOUBLE)
                           / count(*) AS DECIMAL(27,12)), 6) AS DOUBLE)
             AS cross_entropy
    FROM big b JOIN lm ON b.w1 = lm.w1 AND b.w2 = lm.w2
    GROUP BY b.doc_id
    """,
    description="Per-document cross-entropy under an add-one-smoothed "
    "word-bigram LM trained on the corpus itself — the CCNet/RefinedWeb "
    "quality signal (high = garble, very low = boilerplate). Scale shape: "
    "training is ONE map-side-combined shuffle of the bigram stream into "
    "a vocab²-bounded LM table; scoring BROADCASTS that table back onto "
    "the per-doc bigram stream (document rows never shuffle to score), "
    "then aggregates per doc_id. On an open-vocabulary web corpus the "
    "cap comes from the standard top-V + UNK vocabulary truncation "
    "(prune rare tokens after the count pass) — and if the LM still "
    "exceeds the broadcast threshold, dropping the broadcast() hint "
    "degrades gracefully to a shuffle join on (w1, w2). Smoothed nll "
    "terms are identical double ln/div expressions in both engines, "
    "decimal-summed and decimal-rounded (plans/_util.py recipe).",
    tags=("lm", "curation", "llm-pipeline", "text"),
)
def ngram_lm_perplexity(spark, sf_dir):
    d = T(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("t")
    )
    d = spread(d, spark, by="doc_id")
    # Per-doc bigram stream: zip the token array against itself shifted by
    # one — empty for single-token docs, no out-of-range indexing.
    big = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "zip_with(slice(t, 1, size(t) - 1),"
                "         slice(t, 2, size(t) - 1),"
                "         (a, b) -> struct(a AS w1, b AS w2))"
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")

    bc = big.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    uc = bc.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vsz = d.select(F.explode("t").alias("w")).agg(
        F.countDistinct("w").alias("vsz")
    )
    lm = (
        bc.join(uc, "w1")
        .crossJoin(F.broadcast(vsz))  # scale-ok: 1-row vocab size
        .select(
            "w1",
            "w2",
            (
                -F.log(
                    (F.col("c12") + 1).cast("double")
                    / (F.col("c1") + F.col("vsz")).cast("double")
                )
            ).alias("nll"),
        )
    )
    # The LM is vocab²-bounded — dim-sized at any corpus scale. Broadcast
    # so the fact-side bigram stream never shuffles to be scored.
    return (
        big.join(F.broadcast(lm), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            r6(
                F.sum(F.col("nll").cast("decimal(27,12)")).cast("double")
                / F.count("*")
            ).alias("cross_entropy"),
        )
    )
