"""Round-6 capstone queries (VERDICT r5 "next round" #6): the two
north-star surfaces the registry was thinnest on.

- ``ann_retrieval_quality_report``: an end-to-end retrieval-quality
  harness that ties the ANN ladder to the dedup pipeline's OWN output —
  recall of the approximate strategies measured on the near-duplicate
  cluster representatives the embedding near-dup tier actually produces,
  not on synthetic tiled corpora. This is the harness a training-data
  pipeline runs after every index rebuild: "did retrieval quality hold
  on the corpus we actually serve?".
- ``split_decontamination_report``: eval-set contamination sweep — the
  n-gram decontamination step every LLM data pipeline runs before
  training (an eval/val document is contaminated when it shares a word
  8-shingle with any train-split document), composed from the
  registered deterministic split and the containment machinery's
  shingle index.

Both are compositions of registered operators (the policy for capstone
queries since ``training_corpus_manifest``): new report semantics, no
new kernel, full DuckDB oracles built by composing the constituent
oracles as CTEs (the ``_hard_neg_oracle`` precedent).

These extend the reference's capability surface (SURVEY.md §2
extensions — the reference pipeline, `/root/reference/src/
process_to_curated.py`, has no retrieval or decontamination stage);
they exist for the 100 TB training-data mandate.
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
from datalakes_and_data_integration_spark.plans._util import T, spread
from datalakes_and_data_integration_spark.plans.registry import QUERIES, register

_TOK_SPARK = tokens_sql_spark("text")
_TOK_DUCK = tokens_sql_duck("text")

# ---------------------------------------------------------------------------
# Dedup tier-overlap matrix: which documents each dedup tier flags, and
# how much each tier adds over the others. dedup_savings_report prices
# the tiers individually (docs/tokens removed); this report answers the
# NEXT question a pipeline owner asks — "if I already run tier X, what
# does tier Y still catch?" — as exact set intersections over the four
# flagged-document sets:
#   exact       non-keeper full-text md5 duplicates (first-writer-wins)
#   passage     docs containing >= 1 repeated 16-token passage
#   containment later doc of each >= 0.5 asymmetric-containment pair
#   cluster     non-representative members of MinHash-CC clusters
# "Later doc" (the larger doc_id) is the flagged side everywhere,
# matching the first-occurrence-wins convention of the keeper tiers.
#
# Scale: each tier is the registered operator's own bucketed plan; the
# overlap join is doc-id sets only (four narrow frames), one self-join
# on doc_id — candidates bounded by the flagged sets, never the corpus.
# ---------------------------------------------------------------------------

_TIERS = ("cluster", "containment", "exact", "passage", "span")


def _span_grams_duck() -> str:
    """Positional word-8-gram rows over the report's shared ``tok`` CTE
    (curation7's builder, pointed at this oracle's tokenize pass)."""
    from datalakes_and_data_integration_spark.plans.curation7 import (
        _SPAN_K,
        _pos_grams_duck,
    )

    return _pos_grams_duck(_SPAN_K, src="tok")


def _tier_overlap_oracle() -> str:
    from datalakes_and_data_integration_spark.plans.curation3 import (
        _PASS,
        _containment_oracle,
    )
    from datalakes_and_data_integration_spark.plans.dedup import (
        _cluster_oracle,
    )

    tiers_values = ", ".join(f"('{t}')" for t in _TIERS)
    return f"""
    WITH tok AS (SELECT doc_id, {_TOK_DUCK} AS toks FROM documents),
    exact_losers AS (
      SELECT d.doc_id
      FROM documents d
      JOIN (
        SELECT md5(text) AS h, min(doc_id) AS keeper
        FROM documents GROUP BY md5(text)
      ) k ON md5(d.text) = k.h AND d.doc_id <> k.keeper
    ),
    passages AS (
      SELECT doc_id,
             array_to_string(toks[p * {_PASS} + 1 : p * {_PASS} + {_PASS}],
                             ' ') AS ptext,
             CAST(p AS BIGINT) AS pidx
      FROM (
        SELECT doc_id, toks,
               unnest(generate_series(0,
                 CAST(floor((len(toks) - 1) / {_PASS}) AS BIGINT))) AS p
        FROM tok WHERE len(toks) > 0
      )
    ),
    passage_losers AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_id,
               row_number() OVER (PARTITION BY md5(ptext)
                                  ORDER BY doc_id, pidx) AS rn
        FROM passages
      ) WHERE rn > 1
    ),
    span_grams AS (
      SELECT doc_id, p, md5(g) AS dg FROM ({_span_grams_duck()})
    ),
    span_losers AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_id,
               row_number() OVER (PARTITION BY dg
                                  ORDER BY doc_id, p) AS rn
        FROM span_grams
      ) WHERE rn > 1
    ),
    cont AS MATERIALIZED ({_containment_oracle()}),
    clusters AS MATERIALIZED ({_cluster_oracle()}),
    flags AS MATERIALIZED (
      SELECT 'exact' AS tier, doc_id FROM exact_losers
      UNION ALL
      SELECT 'passage', doc_id FROM passage_losers
      UNION ALL
      SELECT 'span', doc_id FROM span_losers
      UNION ALL
      SELECT DISTINCT 'containment', doc_b FROM cont
      UNION ALL
      SELECT 'cluster', doc FROM clusters WHERE doc <> cluster_id
    ),
    tiers(tier) AS (VALUES {tiers_values}),
    counts AS (
      SELECT tier, CAST(count(*) AS BIGINT) AS n FROM flags GROUP BY tier
    ),
    ov AS (
      SELECT a.tier AS ta, b.tier AS tb, CAST(count(*) AS BIGINT) AS nb
      FROM flags a JOIN flags b
        ON b.doc_id = a.doc_id AND a.tier < b.tier
      GROUP BY a.tier, b.tier
    )
    SELECT p.ta AS tier_a, p.tb AS tier_b,
           CAST(coalesce(ca.n, 0) AS BIGINT) AS n_a,
           CAST(coalesce(cb.n, 0) AS BIGINT) AS n_b,
           CAST(coalesce(o.nb, 0) AS BIGINT) AS n_both,
           coalesce(round(CAST(coalesce(o.nb, 0) AS DOUBLE)
                          / nullif(coalesce(ca.n, 0) + coalesce(cb.n, 0)
                                   - coalesce(o.nb, 0), 0), 6),
                    0.0) AS jaccard
    FROM (SELECT a.tier AS ta, b.tier AS tb
          FROM tiers a JOIN tiers b ON a.tier < b.tier) p
    LEFT JOIN counts ca ON ca.tier = p.ta
    LEFT JOIN counts cb ON cb.tier = p.tb
    LEFT JOIN ov o ON o.ta = p.ta AND o.tb = p.tb
    """


@register(
    "dedup_tier_overlap_report",
    oracle=_tier_overlap_oracle(),
    description="Dedup tier-overlap matrix: the 10 pairwise intersections "
    "of the five flagged-document sets (exact md5 losers, repeated-"
    "passage docs, duplicate-8-gram-SPAN docs — the exact-substring "
    "tier, sharing the report's one tokenize pass — containment "
    "later-docs, MinHash-cluster non-representatives) with per-tier "
    "totals and overlap Jaccard — the marginal-value table that tells a "
    "pipeline owner what each tier still catches given the others "
    "(dedup_savings_report prices them individually). Exact integer "
    "set counts; one rounded division.",
    tags=("dedup", "curation", "report", "llm-pipeline"),
)
def dedup_tier_overlap_report(spark, sf_dir):
    from pyspark.sql import Window

    from datalakes_and_data_integration_spark.plans.curation3 import (
        _PASS,
        dedup_containment_pairs,
    )
    from datalakes_and_data_integration_spark.plans.dedup import (
        dedup_cluster_assignment,
    )

    d = spread(T(spark, sf_dir, "documents"), spark)
    # ONE materialized tokenize pass feeds all four tiers (VERDICT r6
    # #4 — each tier re-tokenized before: 35.5 s honest fresh-session
    # sum at the 50k decade). `tok` drives the exact and passage tiers
    # directly; the shared word-3-shingle frame derived from it is
    # handed to the containment and MinHash-cluster tiers, which accept
    # a pre-built shingled frame precisely for this composition. Both
    # frames are what those tiers would have built themselves, so every
    # tier's rows — and the composed oracle — are unchanged.
    tok = d.select(
        "doc_id", F.md5("text").alias("h"), F.expr(_TOK_SPARK).alias("toks")
    ).persist()  # consumed by keepers + exact + passages + shingled
    shingled = (
        tok.select(
            "doc_id",
            F.expr(shingles_expr_spark("toks", 3)).alias("sh"),
        )
        .filter(F.size("sh") > 0)
        .persist()  # consumed 3x by containment + 3x by MinHash
    )
    keepers = tok.groupBy("h").agg(F.min("doc_id").alias("keeper"))
    exact_losers = (
        tok.join(keepers, "h")
        .filter(F.col("doc_id") != F.col("keeper"))
        .select("doc_id")
    )
    tok2 = tok.filter(F.size("toks") > 0)
    passages = tok2.select(
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
    passage_losers = (
        passages.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 1)
        .select("doc_id")
        .distinct()
    )
    from datalakes_and_data_integration_spark.plans.curation7 import (
        _SPAN_K,
        _pos_grams_spark,
    )

    span_grams = tok.select(
        "doc_id",
        F.posexplode(
            F.expr(_pos_grams_spark("toks", _SPAN_K))
        ).alias("p0", "g"),
    ).select(
        "doc_id",
        (F.col("p0") + 1).cast("long").alias("p"),
        F.md5("g").alias("dg"),
    )
    wsp = Window.partitionBy("dg").orderBy("doc_id", "p")
    span_losers = (
        span_grams.withColumn("rn", F.row_number().over(wsp))
        .filter(F.col("rn") > 1)
        .select("doc_id")
        .distinct()
    )
    cont_losers = (
        dedup_containment_pairs(spark, sf_dir, shingled=shingled)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    cluster_losers = (
        dedup_cluster_assignment(spark, sf_dir, shingled=shingled)
        .filter(F.col("doc") != F.col("cluster_id"))
        .select(F.col("doc").alias("doc_id"))
    )
    # Union SUMS its inputs' partitions (the CC loop's checkpointed
    # frames alone contribute dozens) — left alone, every map stage over
    # `flags` schedules 1,000+ near-empty tasks. One keyed repartition
    # of the tiny (tier, doc_id) rows caps it at session parallelism
    # and pre-hashes the self-join key.
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    flags = (
        exact_losers.select(F.lit("exact").alias("tier"), "doc_id")
        .unionAll(passage_losers.select(F.lit("passage").alias("tier"), "doc_id"))
        .unionAll(span_losers.select(F.lit("span").alias("tier"), "doc_id"))
        .unionAll(cont_losers.select(F.lit("containment").alias("tier"), "doc_id"))
        .unionAll(cluster_losers.select(F.lit("cluster").alias("tier"), "doc_id"))
        .repartition(n_part, "doc_id")
        .persist()  # consumed 3x: per-tier counts + both overlap sides
    )
    counts = flags.groupBy("tier").agg(F.count("*").cast("long").alias("n"))
    ov = (
        flags.alias("a")
        .join(
            flags.alias("b"),
            (F.col("b.doc_id") == F.col("a.doc_id"))
            & (F.col("a.tier") < F.col("b.tier")),
        )
        .groupBy(
            F.col("a.tier").alias("ta"), F.col("b.tier").alias("tb")
        )
        .agg(F.count("*").cast("long").alias("nb"))
    )
    # The 6 tier pairs as a literal frame (plan-build-time constants, no
    # inequality join -> no cartesian in the plan).
    pairs = spark.createDataFrame(
        [(a, b) for a in _TIERS for b in _TIERS if a < b], ["ta", "tb"]
    )
    ca = counts.select(F.col("tier").alias("ta"), F.col("n").alias("na"))
    cb = counts.select(F.col("tier").alias("tb"), F.col("n").alias("nb2"))
    n_a = F.coalesce(F.col("na"), F.lit(0)).cast("long")
    n_b = F.coalesce(F.col("nb2"), F.lit(0)).cast("long")
    n_both = F.coalesce(F.col("nb"), F.lit(0)).cast("long")
    union_sz = n_a + n_b - n_both
    return (
        pairs.join(ca, "ta", "left")
        .join(cb, "tb", "left")
        .join(ov, ["ta", "tb"], "left")
        .select(
            F.col("ta").alias("tier_a"),
            F.col("tb").alias("tier_b"),
            n_a.alias("n_a"),
            n_b.alias("n_b"),
            n_both.alias("n_both"),
            F.coalesce(
                F.round(
                    n_both.cast("double")
                    / F.when(union_sz > 0, union_sz).otherwise(F.lit(None)),
                    6,
                ),
                F.lit(0.0),
            ).alias("jaccard"),
        )
    )

# ---------------------------------------------------------------------------
# Retrieval-quality harness on the pipeline's own near-dup corpus.
#
# Query set = near-dup cluster REPRESENTATIVES: vectors that appear in at
# least one embedding near-dup pair and are the smallest id in every pair
# they join (first-occurrence representatives — at least one per connected
# component, deterministic, no iteration). These are exactly the vectors a
# dedup-then-index pipeline keeps, and the regime where bucketed ANN is
# easiest to get wrong (near-dup clusters concentrate mass near hyperplane
# boundaries — BASELINE.md's ladder shows LSH recall is regime-dependent).
#
# For each approximate strategy, recall@5 = |strategy top-5 ∩ exact top-5|
# / |exact top-5| over the representative queries, as integer hit counts
# plus one rounded division (cross-engine deterministic).
#
# Scale: both exact legs compose the HYBRID kernels (chunked-broadcast
# numpy blocks + codegen re-rank — byte-identical to the bare baselines,
# proven by the shared oracles; round-6 ladder: 47.8 s vs 857 s near-dup,
# 16.2 s vs >3 min top-k at 20k). At 100 TB the query set derivation IS
# the sampling knob: representatives of a bounded cluster sample (e.g.
# the md5-first fraction of cluster ids), with the hybrid block-scan as
# truth — same plan shape, bounded cost.
# ---------------------------------------------------------------------------


def _retrieval_quality_oracle() -> str:
    # The hybrids carry the SAME oracle strings as the bare baselines
    # (that identity is why the swap needs no oracle change).
    nd = QUERIES["embedding_near_dup_hybrid"].oracle
    ex = QUERIES["ann_topk_bruteforce_hybrid"].oracle
    lshb = QUERIES["ann_topk_lsh_bucketed"].oracle
    mp = QUERIES["ann_topk_lsh_multiprobe"].oracle

    def leg(name: str, cte: str) -> str:
        return f"""
      SELECT '{name}' AS strategy,
             CAST(count(DISTINCT e.vec_id) AS BIGINT) AS n_queries,
             CAST(coalesce(
               sum(CASE WHEN g.vec_id IS NOT NULL THEN 1 END), 0)
               AS BIGINT) AS hits,
             CAST(count(*) AS BIGINT) AS possible
      FROM exq e
      LEFT JOIN {cte} g
        ON g.vec_id = e.vec_id AND g.neighbor_id = e.neighbor_id"""

    return f"""
    WITH nd AS ({nd}),
    qset AS (
      SELECT DISTINCT vec_a AS vec_id FROM nd
      WHERE vec_a NOT IN (SELECT vec_b FROM nd)
    ),
    ex AS ({ex}),
    exq AS (
      SELECT e.vec_id, e.neighbor_id
      FROM ex e JOIN qset q ON q.vec_id = e.vec_id
    ),
    lshb AS (
      SELECT DISTINCT vec_id, neighbor_id FROM ({lshb})
    ),
    mp AS (
      SELECT DISTINCT vec_id, neighbor_id FROM ({mp})
    ),
    score AS ({leg('lsh_bucketed', 'lshb')}
      UNION ALL{leg('lsh_multiprobe', 'mp')}
    )
    SELECT strategy, n_queries, hits, possible,
           round(CAST(hits AS DOUBLE) / possible, 6) AS recall_at_5
    FROM score
    """


@register(
    "ann_retrieval_quality_report",
    oracle=_retrieval_quality_oracle(),
    description="End-to-end retrieval-quality harness: recall@5 of the "
    "bucketed LSH strategies vs the exact brute-force top-5, measured on "
    "the near-dup cluster representatives the embedding-dedup tier itself "
    "produces (first-occurrence representative per near-dup pair set) — "
    "the post-index-rebuild quality gate of a training-data pipeline, on "
    "its REAL near-dup corpus rather than synthetic tiles (the corpus-"
    "wide, all-queries companion is ann_lsh_recall_audit; this one "
    "restricts to the regime dedup actually serves). Integer hit counts "
    "+ one rounded division keep the report cross-engine exact.",
    tags=("similarity", "ann", "quality", "harness", "llm-pipeline"),
)
def ann_retrieval_quality_report(spark, sf_dir):
    # Compose the HYBRID exact kernels, not the bare-BNLJ baselines —
    # byte-identical results (shared oracles), block-wise cost (the
    # round-6 label-eval-report precedent, commit 82bebbc; pinned by
    # test_label_eval_reports_avoid_bnlj_kernel).
    from datalakes_and_data_integration_spark.plans.similarity import (
        ann_topk_bruteforce_hybrid,
        ann_topk_lsh_bucketed,
        embedding_near_dup_hybrid,
    )
    from datalakes_and_data_integration_spark.plans.similarity_extra import (
        ann_topk_lsh_multiprobe,
    )

    nd = (
        embedding_near_dup_hybrid(spark, sf_dir)
        .select("vec_a", "vec_b")
        .persist()
    )
    dup_side = nd.select(F.col("vec_b").alias("vec_id")).distinct()
    qset = (
        nd.select(F.col("vec_a").alias("vec_id"))
        .distinct()
        .join(dup_side, "vec_id", "left_anti")
    )
    exq = (
        ann_topk_bruteforce_hybrid(spark, sf_dir)
        .select("vec_id", "neighbor_id")
        .join(qset, "vec_id")
        .persist()  # consumed once per audited strategy
    )

    def leg(name, df):
        got = df.select("vec_id", "neighbor_id").distinct().withColumn(
            "hit", F.lit(1)
        )
        return (
            exq.join(got, ["vec_id", "neighbor_id"], "left")
            .agg(
                F.countDistinct("vec_id").cast("long").alias("n_queries"),
                F.coalesce(F.sum("hit"), F.lit(0))
                .cast("long")
                .alias("hits"),
                F.count("*").cast("long").alias("possible"),
            )
            .select(
                F.lit(name).alias("strategy"),
                "n_queries",
                "hits",
                "possible",
                F.round(
                    F.col("hits").cast("double") / F.col("possible"), 6
                ).alias("recall_at_5"),
            )
        )

    return leg("lsh_bucketed", ann_topk_lsh_bucketed(spark, sf_dir)).unionAll(
        leg("lsh_multiprobe", ann_topk_lsh_multiprobe(spark, sf_dir))
    )


# ---------------------------------------------------------------------------
# Eval-split n-gram decontamination report.
#
# The deterministic 80/10/10 split (dataset_split_assignment's exact hash
# expression) partitions documents; an eval document (val or test) is
# CONTAMINATED when any of its word 8-shingles also occurs in any train
# document — the n-gram overlap rule used to decontaminate benchmark eval
# sets before training. 8 tokens is the standard n-gram window: long
# enough that natural re-use is rare, short enough to catch quoted spans.
#
# Scale: shingling is partition-local; the check is a semi-join of eval
# (doc, shingle-digest) rows against the DISTINCT train digest set —
# candidates-only shuffle on the digest, the containment-index shape, no
# pairwise comparison. Digests are md5 (engine-identical); counts are
# integers; the single rate division is rounded once.
# ---------------------------------------------------------------------------

_DECON_N = 8  # tokens per decontamination shingle


def _decontamination_oracle() -> str:
    shing = shingles_sql_duck("toks", _DECON_N)
    bucket = f"{hash60_sql_duck('CAST(doc_id AS VARCHAR)', seed=7)} % 100"
    return f"""
    WITH split_docs AS (
      SELECT doc_id,
             CASE WHEN {bucket} < 80 THEN 'train'
                  WHEN {bucket} < 90 THEN 'val'
                  ELSE 'test' END AS split,
             {_TOK_DUCK} AS toks
      FROM documents
    ),
    shingled AS (
      SELECT doc_id, split, unnest({shing}) AS g
      FROM split_docs WHERE len({shing}) > 0
    ),
    train_digests AS (
      SELECT DISTINCT md5(g) AS d FROM shingled WHERE split = 'train'
    ),
    eval_digests AS (
      SELECT DISTINCT doc_id, split, md5(g) AS d
      FROM shingled WHERE split <> 'train'
    ),
    contaminated AS (
      SELECT DISTINCT e.doc_id, e.split
      FROM eval_digests e JOIN train_digests t ON t.d = e.d
    ),
    base AS (
      SELECT split, CAST(count(*) AS BIGINT) AS n_docs
      FROM split_docs WHERE split <> 'train' GROUP BY split
    )
    SELECT b.split, b.n_docs,
           CAST(coalesce(c.n, 0) AS BIGINT) AS n_contaminated,
           round(CAST(coalesce(c.n, 0) AS DOUBLE) / b.n_docs, 6)
             AS contamination_rate
    FROM base b
    LEFT JOIN (
      SELECT split, count(*) AS n FROM contaminated GROUP BY split
    ) c ON c.split = b.split
    """


@register(
    "split_decontamination_report",
    oracle=_decontamination_oracle(),
    description=f"Eval-set n-gram decontamination: a val/test document "
    f"(dataset_split_assignment's exact deterministic hash split) is "
    f"contaminated when it shares a word {_DECON_N}-shingle with any "
    "train document. Per-eval-split doc counts, contaminated counts, and "
    "rate — the pre-training leakage gate (benchmark_ngram_contamination "
    "is the external-benchmark twin; this one decontaminates the "
    "pipeline's OWN eval splits). Semi-join of eval shingle digests "
    "against the distinct train digest set: candidates-only shuffle on "
    "md5 digests, never a doc-pair comparison.",
    tags=("dedup", "contamination", "split", "quality", "llm-pipeline"),
)
def split_decontamination_report(spark, sf_dir):
    d = spread(T(spark, sf_dir, "documents"), spark)
    bucket = F.expr(hash60_sql_spark("CAST(doc_id AS STRING)", seed=7)) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    shing = shingles_expr_spark("toks", _DECON_N)
    split_docs = d.select(
        "doc_id", split.alias("split"), F.expr(_TOK_SPARK).alias("toks")
    )
    shingled = (
        split_docs.select(
            "doc_id", "split", F.explode(F.expr(shing)).alias("g")
        )
        .select("doc_id", "split", F.md5("g").alias("dg"))
        .persist()  # consumed twice: train digest set + eval side
    )
    train_digests = (
        shingled.filter(F.col("split") == "train").select("dg").distinct()
    )
    eval_digests = shingled.filter(F.col("split") != "train").select(
        "doc_id", "split", "dg"
    ).distinct()
    contaminated = (
        eval_digests.join(train_digests, "dg", "left_semi")
        .select("doc_id", "split")
        .distinct()
        .groupBy("split")
        .agg(F.count("*").alias("n"))
    )
    base = (
        split_docs.filter(F.col("split") != "train")
        .groupBy("split")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )
    return (
        base.join(contaminated, "split", "left")
        .select(
            "split",
            "n_docs",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias(
                "n_contaminated"
            ),
            F.round(
                F.coalesce(F.col("n"), F.lit(0)).cast("double")
                / F.col("n_docs"),
                6,
            ).alias("contamination_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Dedup weight preservation: repetition-count training weights for the
# kept representatives (the "soft dedup" alternative to dropping mass).
#
# Dropping near-dup cluster members changes the training distribution;
# the count-preserving alternative keeps one representative per cluster
# UPWEIGHTED by its cluster size, so each cluster contributes the same
# sample mass it did before dedup (sum of weights == corpus doc count —
# the preservation identity, hash-checked via sum_weight). The report
# prices the side effect per language: upweighting shifts TOKEN mass
# toward each cluster's representative (weighted_tokens vs raw_tokens),
# and clusters that span languages move mass across language slices
# (sum_weight vs n_docs per language).
#
# Scale: one tokenize pass feeds sizes and the shared shingle frame
# (the tier-overlap discipline); the cluster tier is the registered
# banded-LSH + CC plan; weights are one grouped count on cluster ids;
# the report is a 5-row language join.
# ---------------------------------------------------------------------------


def _weight_preservation_oracle() -> str:
    from datalakes_and_data_integration_spark.plans.dedup import (
        _cluster_oracle,
    )

    return f"""
    WITH cl AS ({_cluster_oracle()}),
    tk AS MATERIALIZED (
      SELECT doc_id, lang, len({_TOK_DUCK}) AS n_tok FROM documents
    ),
    w AS (SELECT cluster_id, count(*) AS wt FROM cl GROUP BY cluster_id),
    reps AS (
      SELECT t.lang, w.wt, t.n_tok FROM w JOIN tk t ON t.doc_id = w.cluster_id
    ),
    raw AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS raw_tokens
      FROM tk GROUP BY lang
    ),
    kept AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
             CAST(sum(wt) AS BIGINT) AS sum_weight,
             CAST(sum(wt * n_tok) AS BIGINT) AS weighted_tokens
      FROM reps GROUP BY lang
    )
    SELECT r.lang, r.n_docs, r.raw_tokens,
           CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(coalesce(k.sum_weight, 0) AS BIGINT) AS sum_weight,
           CAST(coalesce(k.weighted_tokens, 0) AS BIGINT)
             AS weighted_tokens,
           CAST(1000 * coalesce(k.weighted_tokens, 0) // r.raw_tokens
             AS BIGINT) AS token_inflation_per_mille
    FROM raw r LEFT JOIN kept k USING (lang)
    """


@register(
    "dedup_weight_preservation",
    oracle=_weight_preservation_oracle(),
    description="Count-preserving dedup weights (soft dedup): each near-dup "
    "cluster's representative is kept upweighted by its cluster size, so "
    "post-dedup training preserves every cluster's sample mass (global "
    "sum of weights == corpus doc count — the identity the hash check "
    "covers via sum_weight). Reported per language: kept reps, assigned "
    "weight mass (vs raw doc count — cross-language clusters shift mass "
    "between slices), and weighted vs raw token totals with an integer "
    "inflation share. One tokenize pass shared with the cluster tier's "
    "shingles; weights are one grouped count on cluster ids.",
    tags=("dedup", "curation", "sampling", "llm-pipeline"),
)
def dedup_weight_preservation(spark, sf_dir):
    from datalakes_and_data_integration_spark.plans.dedup import (
        dedup_cluster_assignment,
    )

    d = spread(T(spark, sf_dir, "documents"), spark)
    tok = d.select(
        "doc_id", "lang", F.expr(_TOK_SPARK).alias("toks")
    ).persist()  # consumed by sizes (2x) + the shared shingle frame
    sizes = tok.select(
        "doc_id", "lang", F.size("toks").cast("long").alias("n_tok")
    )
    shingled = (
        tok.select(
            "doc_id", F.expr(shingles_expr_spark("toks", 3)).alias("sh")
        )
        .filter(F.size("sh") > 0)
        .persist()  # consumed 3x inside the MinHash tier
    )
    cl = dedup_cluster_assignment(spark, sf_dir, shingled=shingled)
    wts = cl.groupBy("cluster_id").agg(F.count("*").cast("long").alias("wt"))
    reps = wts.join(
        sizes, wts["cluster_id"] == sizes["doc_id"]
    ).select("lang", "wt", "n_tok")
    raw = sizes.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("raw_tokens"),
    )
    kept = reps.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.sum("wt").cast("long").alias("sum_weight"),
        F.sum(F.col("wt") * F.col("n_tok")).cast("long").alias(
            "weighted_tokens"
        ),
    )
    return raw.join(kept, "lang", "left").select(
        "lang",
        "n_docs",
        "raw_tokens",
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce("sum_weight", F.lit(0)).cast("long").alias("sum_weight"),
        F.coalesce("weighted_tokens", F.lit(0))
        .cast("long")
        .alias("weighted_tokens"),
        F.expr(
            "CAST(1000 * coalesce(weighted_tokens, 0) div raw_tokens"
            " AS BIGINT)"
        ).alias("token_inflation_per_mille"),
    )
