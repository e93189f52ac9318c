"""Deduplication queries over ``documents`` — the LLM-training-data dedup
suite (BASELINE.json north star): exact, MinHash+LSH, SimHash, and n-gram
Jaccard set-similarity join.

Scale design (100 TB):
- exact: one hash-shuffle on a 16-byte digest, map-side combined.
- MinHash+LSH: per-doc signatures are a narrow scan (k md5s per shingle);
  the only shuffle is the band-bucket self-join — candidates, not the
  corpus, hit the network. Bands/rows trade recall vs cost (4 bands x 2
  rows here; threshold s where collision prob = 1/2 is (1/b)^(1/r) ≈ 0.5).
- SimHash: pure scan -> 60-bit signature; near-dup = hamming<=k on a
  self-join that would use bit-sampling buckets at scale (exact pair scan
  here, LSH-bucketed variant in plans/similarity.py shows the bucket form).
- Jaccard join: inverted-index (explode shingles, self-join on shingle,
  count shared) — the classic set-similarity-join shape; skew on stop-
  shingles is the scale hazard, bounded here by distinct-shingling.

All hashes are md5-derived (functions/hashing.py) so the DuckDB oracle
reproduces them bit-for-bit.
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
from datalakes_and_data_integration_spark.plans._util import T, r6, spread
from datalakes_and_data_integration_spark.plans.registry import register

_TOK_SPARK = tokens_sql_spark("text")
_TOK_DUCK = tokens_sql_duck("text")

# ---------------------------------------------------------------------------
# Exact dedup: group on content digest, keep the smallest doc_id.
# (Reference A1 full-row distinct, restated content-wise for documents.)
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS content_hash, count(*) AS n_copies,
           min(doc_id) AS keeper_doc_id
    FROM documents
    GROUP BY md5(text)
    """,
    description="Exact content dedup: hash-groupBy on md5(text), smallest "
    "doc_id kept per group (one map-side-combined shuffle on the digest).",
    tags=("dedup", "llm-pipeline"),
    bench=True,
)
def dedup_exact(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    return d.groupBy(F.md5("text").alias("content_hash")).agg(
        F.count("*").alias("n_copies"),
        F.min("doc_id").alias("keeper_doc_id"),
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup: word-3-shingles -> k=8 minhash signatures ->
# 4 bands x 2 rows -> band-bucket candidate pairs -> exact Jaccard verify.
# ---------------------------------------------------------------------------

_K = 8  # signatures
_BANDS = 4  # bands of 2 rows each
_JACCARD_MIN = 0.2
# Kirsch-Mitzenmacher double hashing: the k-th minhash function is
# (h1 + k*h2) & MASK over two md5-derived base hashes — 2 md5s per shingle
# instead of K, and the min-aggregation runs as a codegen'd groupBy over the
# exploded shingle table (map-side combined) rather than an interpreted
# per-row array lambda. h1 + 7*h2 < 2^63, so no int64 overflow.
_MASK = (1 << 60) - 1


def _bands_cte_sql() -> str:
    """Shared oracle CTE prefix ``tok .. bands``: the MinHash band
    signatures (same _K/_BANDS/_MASK family the Spark side computes),
    reused by the batch LSH oracle and the incremental-dedup oracle."""
    shing = shingles_sql_duck("toks", 3)
    sig_cols = ", ".join(
        f"min((h1 + {k} * h2) & {_MASK}) AS s{k}" for k in range(_K)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, concat(s{2 * b}, ',', s{2 * b + 1}) AS bv FROM sigs"
        for b in range(_BANDS)
    )
    return f"""tok AS (SELECT doc_id, {_TOK_DUCK} AS toks FROM documents),
    shingled AS (SELECT doc_id, {shing} AS sh FROM tok),
    exploded AS (
      SELECT doc_id, {hash60_sql_duck('x', seed=0)} AS h1,
             {hash60_sql_duck('x', seed=1)} AS h2
      FROM (SELECT doc_id, unnest(sh) AS x FROM shingled)
    ),
    sigs AS (SELECT doc_id, {sig_cols} FROM exploded GROUP BY doc_id),
    bands AS ({band_rows})"""


def minhash_sigs(shingled):
    """(doc_id, sh) -> (doc_id, s0..s{K-1}): the Kirsch-Mitzenmacher
    double-hashed MinHash signatures — ONE definition shared by the LSH
    tier, the calibration query, the incremental-dedup stream module, and
    the estimator audit in plans/curation7.py."""
    exploded = shingled.select("doc_id", F.explode("sh").alias("x")).select(
        "doc_id",
        F.expr(hash60_sql_spark("x", seed=0)).alias("h1"),
        F.expr(hash60_sql_spark("x", seed=1)).alias("h2"),
    )
    return exploded.groupBy("doc_id").agg(
        *[
            F.min(
                (F.col("h1") + F.lit(k) * F.col("h2")).bitwiseAND(F.lit(_MASK))
            ).alias(f"s{k}")
            for k in range(_K)
        ]
    )


def minhash_band_rows(sigs):
    """(doc_id, s0..s7) -> (doc_id, band, bv). One posexplode, NOT a
    4-way union: each union branch would re-evaluate the whole
    tokenize->shingle->hash->groupBy pipeline (x2 again for the
    self-join sides); exploding an inline array evaluates sigs once per
    side."""
    band_array = F.array(
        *[
            F.concat_ws(",", f"s{2 * b}", f"s{2 * b + 1}")
            for b in range(_BANDS)
        ]
    )
    return sigs.select(
        "doc_id", F.posexplode(band_array).alias("band", "bv")
    )


def _minhash_oracle() -> str:
    return f"""
    WITH {_bands_cte_sql()},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.bv = b.bv
      WHERE a.doc_id < b.doc_id
    ),
    verified AS (
      SELECT c.doc_a, c.doc_b,
             len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS inter,
             len(sa.sh) AS la, len(sb.sh) AS lb
      FROM cand c
      JOIN shingled sa ON sa.doc_id = c.doc_a
      JOIN shingled sb ON sb.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b,
           CAST(inter AS DOUBLE) / (la + lb - inter) AS jaccard
    FROM verified
    WHERE CAST(inter AS DOUBLE) / (la + lb - inter) >= {_JACCARD_MIN}
    """


@register(
    "dedup_minhash_lsh",
    oracle=_minhash_oracle(),
    description=f"MinHash({_K})+LSH({_BANDS}x2) near-dup detection over word "
    "3-shingles with exact Jaccard verification of band-collision candidates "
    f"(threshold {_JACCARD_MIN}); only candidates shuffle, never the corpus.",
    tags=("dedup", "lsh", "llm-pipeline"),
    bench=True,
)
def dedup_minhash_lsh(spark, sf_dir, shingled=None):
    # ``shingled`` (doc_id, sh, caller-persisted): share one tokenize/
    # shingle pass across composed dedup tiers — see
    # dedup_containment_pairs; identical frame, results unchanged.
    if shingled is None:
        d = T(spark, sf_dir, "documents")
        # The spread() exchange sits AFTER tokenization on purpose:
        # CollapseProject merges adjacent projections, re-inlining the
        # split/filter expression into every lambda reference of the shingle
        # stage (measured 3.8s -> 1.1s at sf0.1). An exchange is an optimizer
        # barrier, and it also ships the narrow (doc_id, toks) pair instead
        # of raw text.
        tok_df = spread(
            d.select("doc_id", F.expr(_TOK_SPARK).alias("toks")), spark
        )
        shing = shingles_expr_spark("toks", 3)
        shingled = tok_df.select("doc_id", F.expr(shing).alias("sh")).filter(
            F.size("sh") > 0
        ).persist()
    # shingled is consumed 3x (signature path + both verify sides) and the
    # band self-join evaluates its build side as a broadcast — without
    # persist, the whole tokenize->shingle->hash subtree runs 4-5x (measured
    # 9.2s -> 3s at sf0.1). At 100 TB this intermediate is a materialized
    # signatures table; persist is the single-job equivalent.
    bands = minhash_band_rows(minhash_sigs(shingled)).persist()
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sa = shingled.select(
        F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")
    )
    sb = shingled.select(
        F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")
    )
    verified = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("inter"),
            F.size("sh_a").alias("la"),
            F.size("sh_b").alias("lb"),
        )
    )
    jac = F.col("inter").cast("double") / (
        F.col("la") + F.col("lb") - F.col("inter")
    )
    return verified.select(
        "doc_a", "doc_b", jac.alias("jaccard")
    ).filter(F.col("jaccard") >= _JACCARD_MIN)


# ---------------------------------------------------------------------------
# SimHash: 60-bit signature = sign of per-bit tf-weighted sums of token
# hashes. Pure scan; token hashes computed once per token, then 60 bit-sums.
# ---------------------------------------------------------------------------

_BITS = 60


def _simhash_oracle() -> str:
    h = hash60_sql_duck("t")
    bit_sums = ", ".join(
        f"list_sum(list_transform(hs, h -> CASE WHEN (h >> {b}) & 1 = 1 "
        f"THEN 1 ELSE -1 END)) AS b{b}"
        for b in range(_BITS)
    )
    recompose = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(_BITS)
    )
    return f"""
    WITH tok AS (SELECT doc_id, {_TOK_DUCK} AS toks FROM documents),
    hashed AS (
      SELECT doc_id, list_transform(toks, t -> {h}) AS hs
      FROM tok WHERE len(toks) > 0
    ),
    bits AS (SELECT doc_id, {bit_sums} FROM hashed)
    SELECT doc_id, CAST({recompose} AS BIGINT) AS simhash
    FROM bits
    """


@register(
    "dedup_simhash",
    oracle=_simhash_oracle(),
    description=f"{_BITS}-bit SimHash signature per document (tf-weighted "
    "bit votes over md5-derived token hashes) — near-dup candidates are "
    "signatures within small hamming distance.",
    tags=("dedup", "simhash", "llm-pipeline"),
)
def dedup_simhash(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    h = hash60_sql_spark("t")
    # Exchange between hashing and the 60 bit-sum references: without it,
    # CollapseProject re-inlines the tokenize+md5 pipeline into EVERY one of
    # the 60 aggregate() expressions (see dedup_minhash_lsh).
    hashed = spread(
        d.select(
            "doc_id",
            F.expr(f"transform({_TOK_SPARK}, t -> {h})").alias("hs"),
        ).filter(F.size("hs") > 0),
        spark,
    )
    bits = hashed.select(
        "doc_id",
        *[
            F.expr(
                f"aggregate(hs, 0, (a, h) -> a + (CASE WHEN (shiftright(h, {b}) & 1) = 1 "
                f"THEN 1 ELSE -1 END))"
            ).alias(f"b{b}")
            for b in range(_BITS)
        ],
    )
    recompose = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN {1 << b}L ELSE 0L END)" for b in range(_BITS)
    )
    return bits.select(
        "doc_id", F.expr(f"CAST({recompose} AS BIGINT)").alias("simhash")
    )


# ---------------------------------------------------------------------------
# N-gram Jaccard set-similarity join: inverted index on word-2-shingles,
# pair counts from the index self-join, exact Jaccard — no hashing involved,
# the classic exact set-similarity join.
# ---------------------------------------------------------------------------

_JOIN_MIN = 0.15


def _jaccard_oracle(threshold: float = _JOIN_MIN) -> str:
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
           CAST(p.common AS DOUBLE) / (sa.sz + sb.sz - p.common) AS jaccard
    FROM pair_common p
    JOIN sizes sa ON sa.doc_id = p.doc_a
    JOIN sizes sb ON sb.doc_id = p.doc_b
    WHERE CAST(p.common AS DOUBLE) / (sa.sz + sb.sz - p.common) >= {threshold}
    """


@register(
    "dedup_ngram_jaccard_join",
    oracle=_jaccard_oracle(),
    description="Exact n-gram Jaccard similarity join via inverted index on "
    f"word 3-shingles (threshold {_JOIN_MIN}): explode -> self-join on "
    "shingle -> pair counts -> Jaccard. 3-shingles keep the index join "
    "~30x smaller than 2-shingles on this corpus (hot-shingle skew).",
    tags=("dedup", "similarity-join", "llm-pipeline"),
)
def dedup_ngram_jaccard_join(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    # Exchange after tokenize, before shingle: see dedup_minhash_lsh.
    tok_df = spread(d.select("doc_id", F.expr(_TOK_SPARK).alias("toks")), spark)
    shing = shingles_expr_spark("toks", 3)
    shingled = tok_df.select("doc_id", F.expr(shing).alias("sh")).filter(
        F.size("sh") > 0
    ).persist()  # consumed 4x: sizes (both sides) + inverted (both sides)
    sizes = shingled.select("doc_id", F.size("sh").alias("sz"))
    inverted = shingled.select("doc_id", F.explode("sh").alias("g"))
    a = inverted.alias("a")
    b = inverted.alias("b")
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
    jac = F.col("common").cast("double") / (
        F.col("sza") + F.col("szb") - F.col("common")
    )
    return (
        pair_common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= _JOIN_MIN)
    )


_PREFIX_MIN = 0.8  # = 4/5; exact integer form ceil(4*sz/5) = (4*sz+4) div 5


@register(
    "dedup_prefix_filter_join",
    oracle=_jaccard_oracle(_PREFIX_MIN),
    description="PPJoin-style PREFIX-FILTERED exact Jaccard join (Xiao et "
    f"al., WWW'08) at threshold {_PREFIX_MIN}: same inverted-index-join "
    "DEFINITION as dedup_ngram_jaccard_join (shared oracle SQL, higher "
    "threshold), so the driver hash match is a LOSSLESSNESS proof for "
    "the prefix filter — but only each document's prefix hits the index "
    "self-join: tokens sorted by ascending document frequency (rare "
    "first; any fixed total order is lossless, df-order minimizes "
    f"candidates), prefix length |s| - ceil({_PREFIX_MIN}*|s|) + 1 ~ 20% "
    "of the set. Why it is lossless: a qualifying pair overlaps in >= "
    "ceil(t*|s|) shingles from each side's perspective, and if a side's "
    "prefix missed the overlap entirely, the < ceil(t*|s|) tokens after "
    "the prefix could not hold it; the globally smallest shared token "
    "therefore sits inside BOTH prefixes. Prefix filtering is the high-"
    "threshold exact-join tool (at t=0.15 the prefix would be 85% of "
    "the set and the filter could not pay — measured before this form); "
    "the inverted-index join stays the low-threshold tier. Candidate "
    "reduction is pinned by test.",
    tags=("dedup", "similarity-join", "prefix-filter", "llm-pipeline"),
)
def dedup_prefix_filter_join(spark, sf_dir):
    from pyspark.sql import Window

    d = T(spark, sf_dir, "documents")
    tok_df = spread(d.select("doc_id", F.expr(_TOK_SPARK).alias("toks")), spark)
    shing = shingles_expr_spark("toks", 3)
    shingled = tok_df.select("doc_id", F.expr(shing).alias("sh")).filter(
        F.size("sh") > 0
    ).persist()  # consumed 3x: prefixes + both verify sides
    exploded = shingled.select(
        "doc_id", F.size("sh").alias("sz"), F.explode("sh").alias("g")
    )
    dfs = F.broadcast(
        exploded.groupBy("g").agg(F.count("*").alias("df"))
    )
    # prefix length |s| - ceil(0.8*|s|) + 1; ceil(0.8*sz) = (4*sz+4) div 5.
    w = Window.partitionBy("doc_id").orderBy("df", "g")
    prefixes = (
        exploded.join(dfs, "g")
        .withColumn("r", F.row_number().over(w))
        .filter(F.expr("r <= sz - ((4 * sz + 4) div 5) + 1"))
        .select("doc_id", "g")
    )
    a = prefixes.alias("a")
    b = prefixes.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sa = shingled.select(
        F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")
    )
    sb = shingled.select(
        F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")
    )
    common = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = common.cast("double") / (
        F.size("sh_a") + F.size("sh_b") - common
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= _PREFIX_MIN)
    )


# ---------------------------------------------------------------------------
# Near-dup cluster assignment: connected components over the MinHash
# candidate graph — the step that turns pairs into keep/drop decisions.
# ---------------------------------------------------------------------------


def _cluster_oracle() -> str:
    pairs = _minhash_oracle()
    return f"""
    WITH RECURSIVE pairs AS ({pairs}),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    reach(doc, root) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.a, r.root FROM reach r JOIN edges e ON e.b = r.doc
    )
    SELECT doc, CAST(min(root) AS BIGINT) AS cluster_id,
           CAST(count(*) > 1 AS BOOLEAN) AS has_near_dup
    FROM reach GROUP BY doc
    """


@register(
    "dedup_cluster_assignment",
    oracle=_cluster_oracle(),
    description="Connected components over the verified MinHash near-dup "
    "pairs: every document gets cluster_id = smallest doc_id reachable "
    "through near-dup edges (itself if isolated) — the keep-one-per-cluster "
    "decision LLM dedup pipelines act on. Spark side is iterated min-label "
    "propagation (fixpoint, diameter-bounded); the oracle is a recursive "
    "CTE. At 100 TB swap the loop for alternating large-star/small-star "
    "rounds — same convergence, fewer iterations.",
    tags=("dedup", "graph", "llm-pipeline"),
)
def dedup_cluster_assignment(spark, sf_dir, shingled=None, pairs=None, edges=None):
    # ``shingled`` passes straight through to the MinHash tier (shared
    # tokenize/shingle pass — see dedup_containment_pairs). ``pairs`` /
    # ``edges`` ((doc_a, doc_b), caller-persisted; edges = the symmetric
    # union) share the LSH pass AND the cached edge frame when a composer
    # consumes them itself (graph.dup_chain_depth); default identical.
    if pairs is None:
        pairs = (
            dedup_minhash_lsh(spark, sf_dir, shingled=shingled)
            .select("doc_a", "doc_b")
            .persist()
        )
    if edges is None:
        edges = pairs.unionByName(
            pairs.select(
                F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
            )
        ).persist()
    docs = T(spark, sf_dir, "documents").select("doc_id")
    labels = docs.select("doc_id", F.col("doc_id").alias("cluster_id"))
    # Min-label propagation to fixpoint. Iteration count = graph diameter;
    # near-dup clusters are shallow (pairs share a band), so this converges
    # in a handful of rounds. Checksum-based convergence check keeps the
    # driver round-trip to one scalar per iteration.
    prev_sum = None
    for _ in range(20):
        neighbor_min = (
            edges.join(
                labels.withColumnRenamed("doc_id", "doc_b"), "doc_b"
            )
            .groupBy(F.col("doc_a").alias("doc_id"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        # localCheckpoint (eager), not persist: `labels` appears twice per
        # round (probe side + neighbor_min build side), so the LOGICAL plan
        # doubles per iteration even though persist bounds re-execution —
        # deep into the loop a default-heap driver can OOM merely
        # generating the plan tree (measured on the star-contraction twin,
        # graph.py). Checkpointing materializes the generation AND cuts
        # lineage; the previous generation's blocks are released by the
        # ContextCleaner once unreferenced (the explicit-unpersist
        # discipline of VERDICT r1 #6, now subsumed). On a multi-node
        # cluster prefer checkpoint() to reliable storage.
        labels = (
            labels.join(neighbor_min, "doc_id", "left_outer")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"),
                    F.coalesce(F.col("nbr_min"), F.col("cluster_id")),
                ).alias("cluster_id"),
            )
            .localCheckpoint()
        )
        cur_sum = labels.agg(F.sum("cluster_id")).collect()[0][0]  # scale-ok: 1-row convergence checksum
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    in_pairs = edges.select(F.col("doc_a").alias("doc_id")).distinct()
    return (
        labels.join(
            in_pairs.withColumn("has_near_dup", F.lit(True)),
            "doc_id",
            "left_outer",
        )
        .select(
            F.col("doc_id").alias("doc"),
            "cluster_id",
            F.coalesce("has_near_dup", F.lit(False)).alias("has_near_dup"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash near-dup pairs: hamming distance over the 60-bit signatures.
# ---------------------------------------------------------------------------

_HAMMING_MAX = 6


def _simhash_pairs_oracle() -> str:
    sigs = _simhash_oracle()
    return f"""
    WITH sigs AS ({sigs})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {_HAMMING_MAX}
    """


@register(
    "dedup_simhash_pairs",
    oracle=_simhash_pairs_oracle(),
    description=f"SimHash near-dup pairs: hamming(xor of 60-bit signatures) "
    f"<= {_HAMMING_MAX}. Scale shape: the signature is split into "
    f"{_HAMMING_MAX + 1} bands — any pair within the distance differs in at "
    f"most {_HAMMING_MAX} bands, so it shares at least one exact band "
    "(pigeonhole). Candidates come from an equi-join on (band, value) — a "
    "hash-partitioned shuffle bounded by bucket sizes, never the all-pairs "
    "cross product — then the exact hamming check verifies.",
    tags=("dedup", "simhash", "llm-pipeline"),
)
def dedup_simhash_pairs(spark, sf_dir):
    sigs = dedup_simhash(spark, sf_dir).persist()
    # 60 bits -> 7 bands (4x9 + 3x8 bits). A pair at hamming <= 6 has its
    # differing bits in at most 6 bands, leaving >= 1 band bit-identical.
    n_bands = _HAMMING_MAX + 1
    base, extra = divmod(_BITS, n_bands)
    bands, off = [], 0
    for i in range(n_bands):
        w = base + (1 if i < extra else 0)
        bands.append(F.expr(f"shiftright(simhash, {off}) & {(1 << w) - 1}"))
        off += w
    banded = sigs.select(
        "doc_id",
        "simhash",
        F.posexplode(F.array(*bands)).alias("band", "val"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    # Equi-join on the band key (Catalyst picks a hash/sort-merge join on
    # (band, val)); the doc_id ordering is a post-join filter. A pair that
    # matches in k bands appears k times -> distinct before the verify.
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast(
        "int"
    )
    return (
        cand.select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= _HAMMING_MAX)
    )


@register(
    "dedup_kept_corpus",
    oracle=f"""
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
    )
    SELECT d.doc_id, d.lang, d.n_chars,
           CAST(c.doc = c.cluster_id AS BOOLEAN) AS kept
    FROM documents d JOIN clusters c ON c.doc = d.doc_id
    """,
    description="The dedup DECISION applied: every document tagged "
    "kept/dropped — kept iff it is its near-dup cluster's smallest doc_id "
    "(cluster representative). The downstream training-data writer filters "
    "on `kept`; this is the keep-one-per-cluster output the whole dedup "
    "suite exists to produce.",
    tags=("dedup", "graph", "llm-pipeline"),
)
def dedup_kept_corpus(spark, sf_dir):
    clusters = dedup_cluster_assignment(spark, sf_dir).select(
        F.col("doc").alias("doc_id"),
        "cluster_id",
    )
    d = T(spark, sf_dir, "documents")
    return d.join(clusters, "doc_id").select(
        "doc_id",
        "lang",
        "n_chars",
        (F.col("doc_id") == F.col("cluster_id")).alias("kept"),
    )


# ---------------------------------------------------------------------------
# MinHash calibration: estimated vs exact Jaccard per candidate pair — the
# quality evidence for the sketch parameters (K signatures, band shape).
# ---------------------------------------------------------------------------


def _minhash_calibration_oracle() -> str:
    shing = shingles_sql_duck("toks", 3)
    sig_cols = ", ".join(
        f"min((h1 + {k} * h2) & {_MASK}) AS s{k}" for k in range(_K)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, concat(s{2 * b}, ',', s{2 * b + 1}) AS bv FROM sigs"
        for b in range(_BANDS)
    )
    agree = " + ".join(
        f"(CASE WHEN sa.s{k} = sb.s{k} THEN 1 ELSE 0 END)" for k in range(_K)
    )
    return f"""
    WITH tok AS (SELECT doc_id, {_TOK_DUCK} AS toks FROM documents),
    shingled AS (SELECT doc_id, {shing} AS sh FROM tok),
    exploded AS (
      SELECT doc_id, {hash60_sql_duck('x', seed=0)} AS h1,
             {hash60_sql_duck('x', seed=1)} AS h2
      FROM (SELECT doc_id, unnest(sh) AS x FROM shingled)
    ),
    sigs AS (SELECT doc_id, {sig_cols} FROM exploded GROUP BY doc_id),
    bands AS ({band_rows}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.bv = b.bv
      WHERE a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           round(CAST({agree} AS DOUBLE) / {_K}, 6) AS est_jaccard,
           round(CAST(len(list_filter(ga.sh, x -> list_contains(gb.sh, x)))
                      AS DOUBLE)
                 / (len(ga.sh) + len(gb.sh)
                    - len(list_filter(ga.sh, x -> list_contains(gb.sh, x)))),
                 6) AS exact_jaccard
    FROM cand c
    JOIN sigs sa ON sa.doc_id = c.doc_a
    JOIN sigs sb ON sb.doc_id = c.doc_b
    JOIN shingled ga ON ga.doc_id = c.doc_a
    JOIN shingled gb ON gb.doc_id = c.doc_b
    """


@register(
    "minhash_jaccard_calibration",
    oracle=_minhash_calibration_oracle(),
    description=f"Sketch calibration for the MinHash({_K}) near-dup path: "
    "per band-collision candidate pair, the signature-agreement estimate "
    "of Jaccard next to the exact shingle-set Jaccard — the measurement "
    "that justifies (or indicts) the K/band parameters. Same candidate "
    "generation as dedup_minhash_lsh; the signature and shingle tables are "
    "corpus-sized, so their join strategy is left to AQE (broadcast at "
    "gate scale, shuffle on doc id at 100 TB) — no broadcast hints.",
    tags=("dedup", "lsh", "sketch-quality", "llm-pipeline"),
)
def minhash_jaccard_calibration(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    tok_df = spread(d.select("doc_id", F.expr(_TOK_SPARK).alias("toks")), spark)
    shing = shingles_expr_spark("toks", 3)
    shingled = tok_df.select("doc_id", F.expr(shing).alias("sh")).filter(
        F.size("sh") > 0
    ).persist()
    sigs = minhash_sigs(shingled).persist()
    bands = minhash_band_rows(sigs)
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"s{k}").alias(f"a{k}") for k in range(_K)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"s{k}").alias(f"b{k}") for k in range(_K)],
    )
    ga = shingled.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    gb = shingled.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    agree = sum(
        F.when(F.col(f"a{k}") == F.col(f"b{k}"), 1).otherwise(0)
        for k in range(_K)
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .join(ga, "doc_a")
        .join(gb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(agree.cast("double") / _K, 6).alias("est_jaccard"),
            F.round(
                inter.cast("double")
                / (F.size("sh_a") + F.size("sh_b") - inter),
                6,
            ).alias("exact_jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Cross-source duplication matrix: which sources copy each other's content.
# The curation decision this feeds: when two crawls overlap heavily, dedup
# priority (which source "owns" shared content) and mixture weights must be
# set jointly, not per-source.
# ---------------------------------------------------------------------------


@register(
    "cross_source_duplication",
    oracle="""
    WITH ds AS (SELECT DISTINCT md5(text) AS h, source FROM documents),
    per_source AS (
      SELECT source, count(*) AS n_contents FROM ds GROUP BY source
    ),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b,
             count(*) AS n_shared
      FROM ds a JOIN ds b ON a.h = b.h AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT p.source_a, p.source_b, p.n_shared,
           CAST(ROUND(CAST(CAST(p.n_shared AS DOUBLE) / pa.n_contents
                           AS DECIMAL(27,12)), 6) AS DOUBLE) AS frac_of_a,
           CAST(ROUND(CAST(CAST(p.n_shared AS DOUBLE) / pb.n_contents
                           AS DECIMAL(27,12)), 6) AS DOUBLE) AS frac_of_b
    FROM pairs p
    JOIN per_source pa ON pa.source = p.source_a
    JOIN per_source pb ON pb.source = p.source_b
    """,
    description="Source-pair duplicate-content matrix: distinct md5(text) "
    "per source, self-joined on the digest (fan-out bounded by the source "
    "count per digest, never the corpus), with each pair's shared-content "
    "count as a fraction of both sides' distinct contents. One digest "
    "shuffle + a broadcast of the tiny per-source totals.",
    tags=("dedup", "provenance", "llm-pipeline"),
)
def cross_source_duplication(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    # Distinct (digest, source): map-side-combined shuffle on the pair; the
    # digest self-join then reuses the digest as its key. Per-digest fan-out
    # is bounded by the number of SOURCES carrying that content (small and
    # structural), so the join output is O(#dup contents x sources^2/pair),
    # not O(corpus^2).
    ds = d.select(F.md5("text").alias("h"), "source").distinct()
    per_source = ds.groupBy("source").agg(F.count("*").alias("n_contents"))
    a = ds.alias("a")
    b = ds.alias("b")
    pairs = (
        a.join(b, "h")
        .where(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").alias("n_shared"))
    )
    pa = per_source.select(
        F.col("source").alias("source_a"), F.col("n_contents").alias("__na")
    )
    pb = per_source.select(
        F.col("source").alias("source_b"), F.col("n_contents").alias("__nb")
    )
    return (
        pairs.join(F.broadcast(pa), "source_a")
        .join(F.broadcast(pb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            r6(F.col("n_shared").cast("double") / F.col("__na"))
            .alias("frac_of_a"),
            r6(F.col("n_shared").cast("double") / F.col("__nb"))
            .alias("frac_of_b"),
        )
    )
