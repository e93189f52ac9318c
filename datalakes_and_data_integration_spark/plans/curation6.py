"""Embedding-space curation (round 7): the two cluster-then-prune
operators large-scale training-data pipelines run on top of the very
coarse quantizer the ANN tier already trains.

- ``semantic_dedup_assignment``: SemDeDup (Abbas et al. 2023,
  arXiv:2303.09540) — k-means-cluster the embeddings, then call two
  documents semantic duplicates when their cosine inside the SAME
  cluster clears a threshold, and keep ONE representative per duplicate
  neighborhood. Pair generation is cluster-bounded (an equi join on the
  cluster id), which is the entire point of the method: no all-pairs
  term anywhere, the quadratic cost is capped by the largest cluster —
  the same scale shape as the LSH bucket join, and the inverted-file
  balance that ``ann_index_health_report`` measures is exactly the
  hazard that would degrade it.
- ``prototypicality_pruning``: SSL-prototype data pruning (Sorscher et
  al. 2022, arXiv:2206.14486) — rank every vector by its distance to
  its cluster centroid and prune the most prototypical quarter (the
  "easy", redundant examples; at scale you keep the hard tail). One
  hash shuffle on the cluster id; the per-cluster sort is bounded by
  the largest cluster.

Both compose the REGISTERED coarse quantizer (`similarity_extra.
_coarse_cents` — deterministic md5-seeded init, corpus-capped md5
training sample, int64 fixed-point Lloyd steps), so the full pipeline
INCLUDING training is exactly reproducible in SQL and hash-checked:
cluster ids, fixed-point centroid distances, ranks, and booleans only —
the one float boundary (the cosine threshold) compares 6-decimal-rounded
doubles computed with the identical left-fold operation order on both
engines (the ``embedding_near_dup`` recipe).

The module also carries the LEXICAL retrieval surface:

- ``lexical_topk_retrieval``: sparse inverted-index retrieval — eval
  documents retrieve their top-5 train documents by rare-shingle
  overlap, scored with an integer idf surrogate (train-corpus size
  integer-divided by document frequency, so the whole score is exact
  int64 — BM25's ln() is not correctly rounded cross-engine, the
  integer weight is, and the RANKING shape is identical). Candidates
  come only from the posting-list join on the shingle digest, and a
  document-frequency prune (df > N/10) caps posting-list length — the
  hot-term guard that bounds the join at scale (non-binding on this
  synthetic corpus, max df ≈ N/70; binding on natural stopword-heavy
  text, exactly like the ANN training-sample cap).

These extend the reference's capability surface (SURVEY.md §2
extensions — the reference ETL, `/root/reference/src/
process_to_curated.py`, has no embedding stage at all); they exist for
the 100 TB training-data mandate. At that scale K grows with the corpus
(SemDeDup runs ~50k clusters for 600M embeddings) so cluster size — and
with it both the pair join and the rank sort — stays bounded; K here
follows the ANN tier's 16 so the trained chain is byte-shared with the
IVF oracles.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datalakes_and_data_integration_spark.plans.registry import register
from datalakes_and_data_integration_spark.plans.similarity import (
    _dot_duck,
    _dot_spark,
    _fx_assign,
    _fx_term,
    train_sample,
)
from datalakes_and_data_integration_spark.plans.similarity_extra import (
    _IVFADC_ITERS,
    _coarse_cents,
    _coarse_cte_blocks,
    _pq_prelude_sql,
    _unit_vectors,
)

# Cosine threshold for "semantic duplicate" INSIDE a cluster. The corpus
# is near-isotropic (max pairwise cosine ~0.5), so the near-dup tier's
# 0.35 keeps the check non-vacuous at every SF while staying selective;
# on real embedding corpora SemDeDup runs 0.9+ — the threshold is a
# knob, the semantics don't change.
_SEM_TAU = "0.35"


def _primary_assign_sql() -> str:
    """Oracle CTEs ``cdist0``/``prim``: per-vector primary cluster AND its
    fixed-point distance — the ``caf`` assignment re-derived with the
    distance column exposed (caf itself keeps only the rank). ``dist``
    is cast back to BIGINT (DuckDB integer sum() returns HUGEINT, which
    the driver's arrow hash renders as decimal128 — the CORRECTNESS_r02
    trap)."""
    return f"""
    cdist0 AS MATERIALIZED (
      SELECT v.vec_id, c.cluster, sum({_fx_term('v.x', 'c.ms')}) AS dist
      FROM sdims v JOIN cc{_IVFADC_ITERS} c ON c.i = v.i
      GROUP BY v.vec_id, c.cluster
    ),
    prim AS MATERIALIZED (
      SELECT vec_id, cluster, CAST(dist AS BIGINT) AS dist
      FROM (
        SELECT vec_id, cluster, dist,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cluster) AS rn
        FROM cdist0
      ) WHERE rn = 1
    )"""


def _chain_prefix_sql() -> str:
    """Prelude + coarse Lloyd chain + primary assignment with distance.
    ``_coarse_cte_blocks()[:-1]`` drops the trailing ``caf`` CTE (the
    rank-only final assignment) — ``prim`` re-derives it WITH the
    distance column, so keeping caf would only duplicate the corpus-
    scale aggregate."""
    coarse = _coarse_cte_blocks()[:-1]
    return f"{_pq_prelude_sql()},{','.join(coarse)},{_primary_assign_sql()}"


def _primary_assign_spark(unit, cents):
    """Spark twin of ``prim``: primary cluster + fixed-point distance from
    the trained centroid literals, with the oracle's ORDER BY dist,
    cluster tiebreak."""
    return _fx_assign(unit, "arr", [cents], "cluster").select(
        "vec_id", "arr", "cluster", F.expr("array_min(d)").alias("dist")
    )


def _trained_primary(spark, sf_dir):
    """Unit vectors -> trained centroids (corpus-capped md5 sample, the
    ANN tier's exact chain) -> per-vector (vec_id, arr, cluster, dist)."""
    unit = _unit_vectors(spark, sf_dir).persist()
    n = unit.count()  # scale-ok: 1 scalar count (sample-threshold literal)
    return _primary_assign_spark(unit, _coarse_cents(train_sample(unit, n)))


@register(
    "semantic_dedup_assignment",
    oracle=f"""
    WITH {_chain_prefix_sql()},
    removed AS MATERIALIZED (
      SELECT DISTINCT a.vec_id
      FROM prim a
      JOIN prim b ON b.cluster = a.cluster AND b.vec_id <> a.vec_id
      JOIN unit ua ON ua.vec_id = a.vec_id
      JOIN unit ub ON ub.vec_id = b.vec_id
      WHERE round({_dot_duck('ua.arr', 'ub.arr')}, 6) >= {_SEM_TAU}
        AND (b.dist > a.dist
             OR (b.dist = a.dist AND b.vec_id < a.vec_id))
    )
    SELECT p.vec_id, p.cluster, p.dist,
           (p.vec_id IN (SELECT vec_id FROM removed)) AS is_removed
    FROM prim p
    """,
    description="SemDeDup semantic deduplication (Abbas et al. 2023): "
    "embeddings are k-means-clustered by the ANN tier's fixed-point "
    f"coarse quantizer, and within each cluster a vector is removed when "
    f"a semantic duplicate (unit-vector cosine >= {_SEM_TAU}, 6-decimal-"
    "rounded identical-fold doubles) exists that is LESS prototypical — "
    "farther from the centroid in int64 fixed-point distance, ties to "
    "the smaller vec_id — so each duplicate neighborhood keeps its most "
    "diverse member (the paper's keep-low-centroid-similarity rule). "
    "Pair generation is an equi join on the cluster id: no all-pairs "
    "term, quadratic cost bounded by the largest cluster (the LSH-bucket "
    "shape), and at 100 TB K scales with the corpus to keep clusters "
    "bounded. Output is per-vector: cluster, fixed-point centroid "
    "distance, and the removal verdict — training included, the whole "
    "report is hash-checked.",
    tags=("similarity", "dedup", "curation", "semdedup", "llm-pipeline"),
)
def semantic_dedup_assignment(spark, sf_dir):
    prim = _trained_primary(spark, sf_dir).persist()
    return prim.select("vec_id", "cluster", "dist").join(
        _semantic_removed(prim), "vec_id", "left"
    ).select(
        "vec_id",
        "cluster",
        "dist",
        F.coalesce("is_removed", F.lit(False)).alias("is_removed"),
    )


def _semantic_removed(prim):
    """(vec_id, is_removed=True) rows: vectors with a less-prototypical
    same-cluster semantic duplicate — the SemDeDup removal set."""
    a, b = prim.alias("a"), prim.alias("b")
    cos = F.round(F.expr(_dot_spark("a.arr", "b.arr")), 6)
    return (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a.vec_id") != F.col("b.vec_id"))
            & (cos >= F.lit(float(_SEM_TAU)))
            & (
                (F.col("b.dist") > F.col("a.dist"))
                | (
                    (F.col("b.dist") == F.col("a.dist"))
                    & (F.col("b.vec_id") < F.col("a.vec_id"))
                )
            ),
            "left_semi",
        )
        .select("vec_id")
        .withColumn("is_removed", F.lit(True))
    )


@register(
    "prototypicality_pruning",
    oracle=f"""
    WITH {_chain_prefix_sql()}
    SELECT vec_id, cluster, dist, proto_rank, n_cluster,
           (proto_rank * 4 <= n_cluster) AS is_pruned
    FROM (
      SELECT vec_id, cluster, dist,
             row_number() OVER (PARTITION BY cluster
                                ORDER BY dist, vec_id) AS proto_rank,
             count(*) OVER (PARTITION BY cluster) AS n_cluster
      FROM prim
    )
    """,
    description="SSL-prototype data pruning (Sorscher et al. 2022): rank "
    "every vector inside its coarse cluster by int64 fixed-point distance "
    "to the trained centroid (ascending = most prototypical first, ties "
    "to the smaller vec_id) and prune the most prototypical quarter "
    "(rank*4 <= cluster size, pure integer arithmetic) — the "
    "easy/redundant examples a scaling-law-beating pruning schedule "
    "drops first. One hash shuffle on the cluster id; the per-cluster "
    "sort is bounded by the largest cluster, and at 100 TB K grows with "
    "the corpus exactly as in semantic_dedup_assignment. Composes the "
    "same fixed-point training chain, so ranks and the prune verdict "
    "are exact cross-engine.",
    tags=("similarity", "curation", "pruning", "llm-pipeline"),
)
def prototypicality_pruning(spark, sf_dir):
    from pyspark.sql import Window

    prim = _trained_primary(spark, sf_dir)
    w = Window.partitionBy("cluster").orderBy("dist", "vec_id")
    wc = Window.partitionBy("cluster")
    return (
        prim.select("vec_id", "cluster", "dist")
        .withColumn("proto_rank", F.row_number().over(w))
        .withColumn("n_cluster", F.count(F.lit(1)).over(wc))
        .withColumn(
            "is_pruned", F.col("proto_rank") * 4 <= F.col("n_cluster")
        )
    )


def _manifest_oracle() -> str:
    from datalakes_and_data_integration_spark.functions.hashing import (
        hash60_sql_duck,
    )

    bucket = f"{hash60_sql_duck('CAST(vec_id AS VARCHAR)', seed=7)} % 100"
    return f"""
    WITH {_chain_prefix_sql()},
    removed AS MATERIALIZED (
      SELECT DISTINCT a.vec_id
      FROM prim a
      JOIN prim b ON b.cluster = a.cluster AND b.vec_id <> a.vec_id
      JOIN unit ua ON ua.vec_id = a.vec_id
      JOIN unit ub ON ub.vec_id = b.vec_id
      WHERE round({_dot_duck('ua.arr', 'ub.arr')}, 6) >= {_SEM_TAU}
        AND (b.dist > a.dist
             OR (b.dist = a.dist AND b.vec_id < a.vec_id))
    ),
    proto AS (
      SELECT vec_id, cluster, dist,
             row_number() OVER (PARTITION BY cluster
                                ORDER BY dist, vec_id) AS proto_rank,
             count(*) OVER (PARTITION BY cluster) AS n_cluster
      FROM prim
    )
    SELECT vec_id, cluster, dist, split, is_removed, is_pruned,
           (split = 'train' AND NOT is_removed AND NOT is_pruned) AS kept
    FROM (
      SELECT vec_id, cluster, dist,
             CASE WHEN {bucket} < 80 THEN 'train' ELSE 'eval' END AS split,
             (vec_id IN (SELECT vec_id FROM removed)) AS is_removed,
             (proto_rank * 4 <= n_cluster) AS is_pruned
      FROM proto
    )
    """


@register(
    "embedding_corpus_manifest",
    oracle=_manifest_oracle(),
    description="The embedding-side curation verdict, one row per vector "
    "(the training_corpus_manifest twin for the vector corpus): coarse "
    "cluster and fixed-point centroid distance, the deterministic hash "
    "split, the SemDeDup removal verdict, the prototypicality prune "
    "verdict, and the final `kept` flag the embedding-training writer "
    "filters on (train-split AND not a semantic duplicate AND not in "
    "the prototypical quarter). One trained chain feeds every stage — "
    "the composition trains ONCE and both prune tiers reuse the same "
    "persisted assignment, the shared-pass discipline from "
    "dedup_tier_overlap_report. Integer/boolean output throughout; "
    "training included, the whole manifest hash-checks.",
    tags=("similarity", "curation", "capstone", "llm-pipeline"),
)
def embedding_corpus_manifest(spark, sf_dir):
    from pyspark.sql import Window

    from datalakes_and_data_integration_spark.functions.hashing import (
        hash60_sql_spark,
    )

    prim = _trained_primary(spark, sf_dir).persist()
    w = Window.partitionBy("cluster").orderBy("dist", "vec_id")
    wc = Window.partitionBy("cluster")
    bucket = (
        F.expr(hash60_sql_spark("CAST(vec_id AS STRING)", seed=7)) % 100
    )
    return (
        prim.select("vec_id", "cluster", "dist")
        .withColumn("proto_rank", F.row_number().over(w))
        .withColumn("n_cluster", F.count(F.lit(1)).over(wc))
        .withColumn(
            "split", F.when(bucket < 80, "train").otherwise("eval")
        )
        .join(_semantic_removed(prim), "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            "dist",
            "split",
            F.coalesce("is_removed", F.lit(False)).alias("is_removed"),
            (F.col("proto_rank") * 4 <= F.col("n_cluster")).alias(
                "is_pruned"
            ),
        )
        .withColumn(
            "kept",
            (F.col("split") == "train")
            & ~F.col("is_removed")
            & ~F.col("is_pruned"),
        )
    )


# ---------------------------------------------------------------------------
# Lexical sparse retrieval over the shingle inverted index.
# ---------------------------------------------------------------------------

_RET_N = 3  # words per idf-leg shingle (the containment tier's feature)
_RET_OVERLAP_N = 8  # words per overlap-leg shingle (the decontamination n)
_RET_TOPK = 5
_RET_DF_CAP = 10  # prune shingles present in more than 1/_RET_DF_CAP of docs
_RRF_K = 60  # the standard RRF rank constant
_RRF_SCALE = 1_000_000  # integer RRF: _RRF_SCALE // (_RRF_K + rank)


def _retrieval_prelude_sql() -> str:
    """Shared oracle CTEs: the deterministic train/eval hash split with
    tokens, and the train-corpus size."""
    from datalakes_and_data_integration_spark.functions.hashing import (
        hash60_sql_duck,
    )
    from datalakes_and_data_integration_spark.functions.text import (
        tokens_sql_duck,
    )

    bucket = f"{hash60_sql_duck('CAST(doc_id AS VARCHAR)', seed=7)} % 100"
    return f"""
    split_docs AS MATERIALIZED (
      SELECT doc_id,
             CASE WHEN {bucket} < 80 THEN 'train' ELSE 'eval' END AS split,
             {tokens_sql_duck('text')} AS toks
      FROM documents
    ),
    ntrain AS MATERIALIZED (
      SELECT count(*) AS n FROM split_docs WHERE split = 'train'
    )"""


def _shingled_sql(name: str, n: int) -> str:
    """One (doc_id, split, dg) digest relation per shingle width."""
    from datalakes_and_data_integration_spark.functions.text import (
        shingles_sql_duck,
    )

    shing = shingles_sql_duck("toks", n)
    return f"""
    {name} AS MATERIALIZED (
      SELECT doc_id, split, md5(g) AS dg
      FROM (SELECT doc_id, split, unnest({shing}) AS g FROM split_docs)
    )"""


def _leg_idf_sql(out: str, shingled: str) -> str:
    """The integer-idf leg's CTEs, ending in ``{out}`` =
    (query_doc_id, doc_id, score, rank <= _RET_TOPK)."""
    return f"""
    {out}_corpus AS MATERIALIZED (
      SELECT doc_id, dg FROM {shingled} WHERE split = 'train'
    ),
    {out}_w AS MATERIALIZED (
      SELECT dg, (SELECT n FROM ntrain) // df AS w
      FROM (SELECT dg, count(*) AS df FROM {out}_corpus GROUP BY dg)
      WHERE df * {_RET_DF_CAP} <= (SELECT n FROM ntrain)
    ),
    {out}_cand AS (
      SELECT e.doc_id AS query_doc_id, c.doc_id AS doc_id,
             CAST(sum(w.w) AS BIGINT) AS score
      FROM (SELECT doc_id, dg FROM {shingled} WHERE split = 'eval') e
      JOIN {out}_w w ON w.dg = e.dg
      JOIN {out}_corpus c ON c.dg = e.dg
      GROUP BY 1, 2
    ),
    {out} AS MATERIALIZED (
      SELECT query_doc_id, doc_id, score, rank FROM (
        SELECT query_doc_id, doc_id, score,
               row_number() OVER (PARTITION BY query_doc_id
                                  ORDER BY score DESC, doc_id) AS rank
        FROM {out}_cand
      ) WHERE rank <= {_RET_TOPK}
    )"""


def _leg_overlap_sql(out: str, shingled: str) -> str:
    """The overlap-count leg's CTEs: score = number of shared shingle
    digests (the containment feature, near-unique at width
    _RET_OVERLAP_N so no df weighting), ending in ``{out}``."""
    return f"""
    {out}_cand AS (
      SELECT e.doc_id AS query_doc_id, c.doc_id AS doc_id,
             CAST(count(*) AS BIGINT) AS score
      FROM (SELECT doc_id, dg FROM {shingled} WHERE split = 'eval') e
      JOIN (SELECT doc_id, dg FROM {shingled} WHERE split = 'train') c
        ON c.dg = e.dg
      GROUP BY 1, 2
    ),
    {out} AS MATERIALIZED (
      SELECT query_doc_id, doc_id, score, rank FROM (
        SELECT query_doc_id, doc_id, score,
               row_number() OVER (PARTITION BY query_doc_id
                                  ORDER BY score DESC, doc_id) AS rank
        FROM {out}_cand
      ) WHERE rank <= {_RET_TOPK}
    )"""


def _lexical_retrieval_oracle() -> str:
    return f"""
    WITH {_retrieval_prelude_sql()},{_shingled_sql('sh3', _RET_N)},
    {_leg_idf_sql('leg_a', 'sh3')}
    SELECT query_doc_id, doc_id, score, rank FROM leg_a
    """


def _hybrid_rrf_oracle() -> str:
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
    )
    SELECT query_doc_id, doc_id, rrf_score, rank FROM (
      SELECT query_doc_id, doc_id, rrf_score,
             row_number() OVER (PARTITION BY query_doc_id
                                ORDER BY rrf_score DESC, doc_id) AS rank
      FROM fused
    ) WHERE rank <= {_RET_TOPK}
    """


@register(
    "lexical_topk_retrieval",
    oracle=_lexical_retrieval_oracle(),
    description=f"Sparse lexical retrieval: every eval-split document "
    f"(dataset_split_assignment's deterministic hash split, val+test) "
    f"retrieves its top-{_RET_TOPK} train documents by rare-shingle "
    f"overlap — score = sum over shared word-{_RET_N}-shingles of the "
    "integer idf surrogate (train-corpus size integer-divided by the "
    "shingle's document frequency), all-int64 so ranking is exact "
    "cross-engine where BM25's ln() would not be. Candidates come ONLY "
    "from the posting-list equi join on md5 shingle digests (the "
    "inverted-index shape — no doc-pair term anywhere), and shingles in "
    f"more than 1/{_RET_DF_CAP} of the corpus are pruned, capping "
    "posting-list length: the hot-term guard that bounds the join fan-out "
    "at 100 TB (binding on natural stopword-heavy text; non-binding "
    "here). The weight table is vocabulary-sized and broadcasts; the "
    "top-k runs as a partial-top-k window. The lexical leg of a "
    "retrieval stack next to the ANN tier.",
    tags=("text", "retrieval", "inverted-index", "llm-pipeline"),
    bench=True,  # promoted r7: the lexical retrieval flagship
)
def lexical_topk_retrieval(spark, sf_dir):
    split_docs = _split_docs_spark(spark, sf_dir)
    n_train = split_docs.filter(
        F.col("split") == "train"
    ).count()  # scale-ok: 1 scalar count (weight-table literal)
    return _leg_idf_spark(_digests_spark(split_docs, _RET_N), n_train)


def _split_docs_spark(spark, sf_dir):
    """(doc_id, split train|eval, toks) under the deterministic hash
    split — the retrieval legs' shared tokenize pass."""
    from datalakes_and_data_integration_spark.functions.hashing import (
        hash60_sql_spark,
    )
    from datalakes_and_data_integration_spark.functions.text import (
        tokens_sql_spark,
    )
    from datalakes_and_data_integration_spark.plans._util import T, spread

    d = spread(T(spark, sf_dir, "documents"), spark)
    bucket = F.expr(hash60_sql_spark("CAST(doc_id AS STRING)", seed=7)) % 100
    return d.select(
        "doc_id",
        F.when(bucket < 80, "train").otherwise("eval").alias("split"),
        F.expr(tokens_sql_spark()).alias("toks"),
    )


def _digests_spark(split_docs, n: int):
    """(doc_id, split, dg): per-doc DISTINCT word-n-shingle md5 digests,
    persisted (each leg consumes its digest frame 2-3 times)."""
    from datalakes_and_data_integration_spark.functions.text import (
        shingles_expr_spark,
    )

    shing = shingles_expr_spark("toks", n)
    return (
        split_docs.select(
            "doc_id", "split", F.explode(F.expr(shing)).alias("g")
        )
        .select("doc_id", "split", F.md5("g").alias("dg"))
        .persist()
    )


def _topk_by_score(cand):
    """(query_doc_id, doc_id, score) -> rank <= _RET_TOPK rows under the
    (score desc, doc_id) total order — a WindowGroupLimit partial top-k."""
    from pyspark.sql import Window

    rw = Window.partitionBy("query_doc_id").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(rw))
        .filter(F.col("rank") <= _RET_TOPK)
        .select("query_doc_id", "doc_id", "score", "rank")
    )


def _leg_idf_spark(shingled, n_train: int):
    """The integer-idf leg: weighted rare-shingle overlap via the
    posting-list join with the df > N/_RET_DF_CAP hot-term prune."""
    corpus = shingled.filter(F.col("split") == "train").select("doc_id", "dg")
    w = (
        corpus.groupBy("dg")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") * _RET_DF_CAP <= F.lit(n_train))
        .select("dg", F.expr(f"CAST({n_train} AS BIGINT) div df").alias("w"))
    )
    cand = (
        shingled.filter(F.col("split") == "eval")
        .select(F.col("doc_id").alias("query_doc_id"), "dg")
        .join(w, "dg")
        .join(corpus, "dg")
        .groupBy("query_doc_id", "doc_id")
        .agg(F.sum("w").alias("score"))
    )
    return _topk_by_score(cand)


def _leg_overlap_spark(shingled):
    """The overlap-count leg: score = shared digest count (near-unique
    wide shingles need no df weighting — the containment feature)."""
    cand = (
        shingled.filter(F.col("split") == "eval")
        .select(F.col("doc_id").alias("query_doc_id"), "dg")
        .join(
            shingled.filter(F.col("split") == "train").select("doc_id", "dg"),
            "dg",
        )
        .groupBy("query_doc_id", "doc_id")
        .agg(F.count("*").alias("score"))
    )
    return _topk_by_score(cand)


@register(
    "hybrid_retrieval_rrf",
    oracle=_hybrid_rrf_oracle(),
    description="Reciprocal-rank fusion of two lexical retrieval legs — "
    f"the integer-idf rare-{_RET_N}-shingle ranker (lexical_topk_"
    f"retrieval's leg) and a {_RET_OVERLAP_N}-shingle overlap-count "
    "ranker (the decontamination/containment feature, near-unique so "
    "unweighted) — the fusion step every multi-signal retrieval stack "
    f"runs. RRF in pure integers: {_RRF_SCALE} div ({_RRF_K} + rank) "
    "summed over the legs a candidate appears in (absent leg = 0), so "
    "the fused ranking is exact cross-engine with no float reciprocal. "
    "Scale shape: each leg is the bounded posting-list join with a "
    "partial top-k, the fusion is a full outer join of two k-row-per-"
    "query frames (k-bounded, trivially shuffled on the query id), and "
    "the shared tokenize pass feeds both legs' shingle frames once.",
    tags=("text", "retrieval", "rank-fusion", "llm-pipeline"),
)
def hybrid_retrieval_rrf(spark, sf_dir, leg_a=None):
    # ``leg_a`` ((query_doc_id, doc_id, score, rank), caller-persisted):
    # share the 3-shingle idf leg when a composer also consumes it
    # directly (curation8.ranking_agreement_rbo); default path identical.
    from pyspark.sql import Window

    split_docs = _split_docs_spark(spark, sf_dir)
    if leg_a is None:
        n_train = split_docs.filter(
            F.col("split") == "train"
        ).count()  # scale-ok: 1 scalar count (weight-table literal)
        leg_a = _leg_idf_spark(_digests_spark(split_docs, _RET_N), n_train)
    leg_b = _leg_overlap_spark(
        _digests_spark(split_docs, _RET_OVERLAP_N)
    )
    a = leg_a.select(
        "query_doc_id",
        "doc_id",
        F.expr(f"{_RRF_SCALE} div ({_RRF_K} + rank)").alias("ra"),
    )
    b = leg_b.select(
        "query_doc_id",
        "doc_id",
        F.expr(f"{_RRF_SCALE} div ({_RRF_K} + rank)").alias("rb"),
    )
    fused = (
        a.join(b, ["query_doc_id", "doc_id"], "full_outer")
        .select(
            "query_doc_id",
            "doc_id",
            (
                F.coalesce("ra", F.lit(0)) + F.coalesce("rb", F.lit(0))
            ).alias("rrf_score"),
        )
    )
    rw = Window.partitionBy("query_doc_id").orderBy(
        F.col("rrf_score").desc(), F.col("doc_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(rw))
        .filter(F.col("rank") <= _RET_TOPK)
        .select("query_doc_id", "doc_id", "rrf_score", "rank")
    )


# ---------------------------------------------------------------------------
# Cluster-vs-label purity: quantizer quality against the labeled corpus.
# ---------------------------------------------------------------------------


def _purity_oracle() -> str:
    return f"""
    WITH {_chain_prefix_sql()},
    cl AS (
      SELECT p.cluster, e.label, count(*) AS c
      FROM prim p JOIN embeddings e ON e.vec_id = p.vec_id
      GROUP BY 1, 2
    ),
    tot AS (SELECT cluster, CAST(sum(c) AS BIGINT) AS n FROM cl GROUP BY 1),
    maj AS (
      SELECT cluster, label AS majority_label,
             CAST(c AS BIGINT) AS majority_n
      FROM (
        SELECT cluster, label, c,
               row_number() OVER (PARTITION BY cluster
                                  ORDER BY c DESC, label) AS rn
        FROM cl
      ) WHERE rn = 1
    )
    SELECT t.cluster, t.n, m.majority_label, m.majority_n,
           CAST((1000 * m.majority_n) // t.n AS BIGINT) AS purity_permille
    FROM tot t JOIN maj m ON m.cluster = t.cluster
    """


@register(
    "cluster_label_purity",
    oracle=_purity_oracle(),
    description="Coarse-quantizer quality against the labeled corpus: "
    "per cluster, the member count, the majority label (ties to the "
    "smaller label id), its count, and the purity as an exact integer "
    "per-mille — the unsupervised-structure-vs-labels report an "
    "embedding-pipeline owner reads next to ann_index_health_report's "
    "occupancy balance (a pure quantizer can be balanced yet mix "
    "classes; this catches that). Composes the SAME fixed-point trained "
    "chain as the retrieval tier, so the whole report including "
    "training hash-checks. Two map-side-combined group-bys on "
    "(cluster, label) then cluster; the label join is vec_id-keyed, "
    "no pair term anywhere.",
    tags=("similarity", "ml", "eval", "llm-pipeline"),
)
def cluster_label_purity(spark, sf_dir):
    from pyspark.sql import Window

    from datalakes_and_data_integration_spark.plans._util import T

    prim = _trained_primary(spark, sf_dir)
    lab = T(spark, sf_dir, "embeddings").select("vec_id", "label")
    cl = (
        prim.select("vec_id", "cluster")
        .join(lab, "vec_id")
        .groupBy("cluster", "label")
        .agg(F.count("*").alias("c"))
    )
    tot = cl.groupBy("cluster").agg(F.sum("c").cast("long").alias("n"))
    wr = Window.partitionBy("cluster").orderBy(
        F.col("c").desc(), F.col("label")
    )
    maj = (
        cl.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "cluster",
            F.col("label").alias("majority_label"),
            F.col("c").cast("long").alias("majority_n"),
        )
    )
    return (
        tot.join(maj, "cluster")
        .withColumn(
            "purity_permille",
            F.expr("(1000 * majority_n) div n").cast("long"),
        )
    )
