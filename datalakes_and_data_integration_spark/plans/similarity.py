"""Similarity search over the ``embeddings`` table (64-dim float vectors).

- Brute-force cosine top-k: the exactness baseline. All arithmetic is
  performed in double with an identical operation order in Spark and DuckDB
  (sequential left-fold dot products), so values match bit-for-bit; ranking
  additionally orders on the 6-decimal-rounded cosine to be robust.
- Hyperplane-LSH-bucketed top-k: the scale path. 8 random-hyperplane signs
  (constants derived from md5 at plan-build time — functions/hashing.py, so
  both engines see identical planes) bucket vectors; candidates come only
  from the same bucket, turning the O(n^2) cross join into a per-bucket
  join. At 100 TB: repartition by bucket, broadcast nothing, and the
  quadratic term is bounded by the largest bucket.
- Near-dup pairs: cosine threshold over the bucketed candidates' exact
  scores — the embedding analogue of MinHash verify.
"""

from __future__ import annotations

import math
from functools import reduce

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datalakes_and_data_integration_spark.functions.hashing import hash60_py
from datalakes_and_data_integration_spark.plans._util import T, spread
from datalakes_and_data_integration_spark.plans.registry import register

_DIM = 64
_TOPK = 5

# Deterministic training sample shared by EVERY k-means stage in the
# ANN family (the IVF coarse quantizer here; the PQ codebooks and the
# IVFADC/residual compositions in similarity_extra.py): vectors whose
# md5(vec_id) hex digest sorts below a threshold derived from the corpus
# size in pure INTEGER arithmetic — rate = min(1/4, TRAIN_SAMPLE_CAP/n).
# Below the cap this is the historical 25% fraction (threshold '400000'
# selects exactly the old "md5 < '4'" sample); past n = 4*CAP the sample
# SIZE holds at ~TRAIN_SAMPLE_CAP — the faiss shape, a fixed-size
# training set independent of corpus size, so training cost stops being
# O(corpus) (README "Cluster deployment deltas"). Both the Spark filter
# (``train_sample``, threshold resolved to a literal from the caller's
# one scalar count) and the DuckDB oracle predicate (``TRAIN_SAMPLE_
# PRED``, a scalar subquery over count(*)) derive from the same
# cap/scale constants, so the engines cannot drift (ADVICE r5).
TRAIN_SAMPLE_CAP = 65536  # target max training vectors at scale
_TS_SCALE = 16 ** 6  # threshold granularity: 6 hex digits
_TS_QUARTER = _TS_SCALE // 4  # the 25% fraction's threshold


def train_sample_hex(n: int) -> str:
    """6-hex-digit md5-prefix threshold for an n-vector corpus: a digest
    sorting below it marks a training vector. Integer arithmetic only
    (no float rate), mirrored digit for digit by the DuckDB twin inside
    TRAIN_SAMPLE_PRED."""
    t = min(_TS_QUARTER, (TRAIN_SAMPLE_CAP * _TS_SCALE) // max(n, 1))
    return format(t, "06x")


TRAIN_SAMPLE_PRED = (
    "md5(CAST(vec_id AS VARCHAR)) < (SELECT lower(lpad(to_hex("
    f"least({_TS_QUARTER}, (CAST({TRAIN_SAMPLE_CAP} AS BIGINT) "
    f"* {_TS_SCALE}) // count(*))), 6, '0')) FROM embeddings)"
)


def train_sample(df, n: int):
    """Spark twin of TRAIN_SAMPLE_PRED for an n-vector corpus. The
    threshold is a literal (callers pay one scalar count), content-
    addressed so oracles reproduce it with a WHERE clause; recall
    premise pinned by tests/test_sampled_training.py, threshold parity
    by tests/test_train_sample_cap.py."""
    return df.filter(
        F.md5(F.col("vec_id").cast("string")) < train_sample_hex(n)
    )

# --- shared expression builders (Spark SQL | DuckDB SQL kept adjacent) -----


# Spark-side dots/norms are UNROLLED 64-term expressions, not
# aggregate()/zip_with() lambdas: higher-order functions are interpreted
# per element (measured 37s for 4M pairs at sf0.1), while the unrolled form
# whole-stage-codegens (~10x). Addition is left-associative, so the IEEE
# operation order is identical to the oracle's sequential list_reduce fold.


def _norm2_spark(col: str, d: int = _DIM) -> str:
    return _dot_spark(col, col, d)


def _norm2_duck(col: str) -> str:
    return (
        f"list_reduce(list_transform({col}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
        f"(a, v) -> a + v)"
    )


def _dot_spark(a: str, b: str, d: int = _DIM) -> str:
    """The first ``d`` dimensions' dot product (all of them by default)."""
    return " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)"
        for i in range(d)
    )


def _dot_duck(a: str, b: str, d: int = _DIM) -> str:
    return (
        f"list_reduce(list_transform(range(1, {d} + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (acc, v) -> acc + v)"
    )


# --- exact-cosine scan core (numpy kernels under mapInPandas) -------------
#
# Every numpy kernel in the similarity tier (the hybrid top-k and near-dup
# here, the IVF scan, the PQ/IVFADC scans in similarity_extra.py) is one
# filter-then-verify shape: the corpus is broadcast in bounded chunks,
# probe rows stream against each chunk, the kernel emits a candidate
# superset, and Spark re-scores the candidates with the codegen expression
# for the authoritative rounded result. Exactness rests on two facts:
# - _seq_dot folds one dimension at a time, the left-fold order of the
#   unrolled SQL expression, so kernel doubles equal Spark's bit for bit;
# - _margin_keep keeps every score within _MARGIN of the k-th best. Round-6
#   moves a value < 5e-7, so the exact rounded top-k is inside the cut. The
#   k-th best of any corpus subset (a chunk, a tile, a candidate list) is
#   <= the k-th best overall, so a cut taken on a subset keeps a superset
#   of the global top-k members in it; the union over subsets is safe.

# Rows of corpus per driver-side chunk: 250k rows x 64 dims x 8 B ≈ 128 MB of
# float64 per broadcast — bounds peak driver heap regardless of corpus size.
_CORPUS_CHUNK_ROWS = 250_000
_PROBE_BLOCK = 1024  # probe rows per _cos_tiles tile
_CORPUS_BLOCK = 4096  # corpus rows per _cos_tiles tile
_MARGIN = 2e-6  # > 2 * max rounding perturbation (round-6 moves < 5e-7)


def _n_chunks(n: int) -> int:
    return max(1, -(-n // _CORPUS_CHUNK_ROWS))


def _chunk_broadcasts(spark, df, build, n_chunks: int):
    """Broadcast ``build(rows)`` for each chunk of ``df``.

    A single ``collect()`` of the whole corpus is a driver-OOM at 100 TB,
    so chunk ci = rows with pmod(vec_id, n_chunks) == ci (a distributed
    filter evaluated on the executors), pulled one chunk at a time and
    broadcast; broadcast payloads live in the block manager, so peak
    driver heap is ONE chunk, not the corpus. Chunks with no rows are
    skipped."""
    bcs = []
    for ci in range(n_chunks):
        chunk = (
            df
            if n_chunks == 1
            else df.filter(F.pmod(F.col("vec_id"), F.lit(n_chunks)) == ci)
        )
        rows = chunk.collect()  # scale-ok: bounded by _CORPUS_CHUNK_ROWS
        if rows:
            bcs.append(spark.sparkContext.broadcast(build(rows)))
    return bcs


def _scan(probe, bcs, kernel, schema: str):
    """Union of ``probe.mapInPandas(kernel(bc), schema)`` over the corpus
    chunks; a corpus with no rows gives an empty frame of ``schema``."""
    parts = [probe.mapInPandas(kernel(bc), schema) for bc in bcs]
    if not parts:
        return probe.sparkSession.createDataFrame([], schema)
    return reduce(DataFrame.unionAll, parts)


def _seq_dot(Q, C):
    """Dot products over the last axis (other axes broadcast), accumulated
    one dimension at a time in _dot_spark's operation order."""
    acc = np.zeros(np.broadcast_shapes(Q.shape[:-1], C.shape[:-1]))
    for d in range(Q.shape[-1]):
        acc += Q[..., d] * C[..., d]
    return acc


def _seq_norm(X):
    """Row norms in _norm2_spark's operation order."""
    return np.sqrt(_seq_dot(X, X))


def _margin_keep(scores, k: int):
    """Indices of the non-empty ``scores`` within _MARGIN of the k-th best."""
    k = min(k, scores.size)
    kth = np.partition(scores, -k)[-k]
    return np.nonzero(scores >= kth - _MARGIN)[0]


def _corpus_arrays(rows):
    """(ids, vectors, norms) of (vec_id, embedding) rows: the broadcast
    payload _cos_tiles reads."""
    C = np.array([r.embedding for r in rows], dtype=np.float32).astype(
        np.float64
    )
    return np.array([r.vec_id for r in rows], dtype=np.int64), C, _seq_norm(C)


def _cos_tiles(batches, bc):
    """Raw cosines of (vec_id, embedding) probe batches against one
    ``_corpus_arrays`` chunk, as (q_ids, n_ids, cos) tiles of at most
    _PROBE_BLOCK x _CORPUS_BLOCK doubles (~32 MB) whatever the corpus
    size."""
    ids, C, nb = bc.value
    for pdf in batches:
        all_q = pdf["vec_id"].to_numpy(dtype=np.int64)
        all_Q = np.array(
            [np.asarray(v, dtype=np.float32) for v in pdf["embedding"]]
        ).astype(np.float64)
        for p0 in range(0, len(all_q), _PROBE_BLOCK):
            Q = all_Q[p0 : p0 + _PROBE_BLOCK]
            q_nrm = _seq_norm(Q)
            for c0 in range(0, len(ids), _CORPUS_BLOCK):
                c1 = c0 + _CORPUS_BLOCK
                cos = (
                    _seq_dot(Q[:, None, :], C[None, c0:c1, :])
                    / q_nrm[:, None]
                ) / nb[None, c0:c1]
                yield all_q[p0 : p0 + _PROBE_BLOCK], ids[c0:c1], cos


def _rescore_topk(cand, normed):
    """Exact codegen re-score of (vec_id, neighbor_id) candidates against
    ``normed`` (vec_id, embedding, nrm), then the rounded top-k ranking.

    Plain hash joins, NOT F.broadcast: both sides are the full embeddings
    table, so a forced broadcast would collect the whole corpus onto the
    driver at scale (VERDICT r2 #7). AQE still broadcasts when the table
    turns out small."""
    from pyspark.sql import Window

    qa = normed.select(
        "vec_id",
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    nb = normed.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("n_emb"),
        F.col("nrm").alias("n_nrm"),
    )
    cos = F.round(
        F.expr(_dot_spark("q_emb", "n_emb")) / F.col("q_nrm") / F.col("n_nrm"),
        6,
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        cand.join(qa, "vec_id")
        .join(nb, "neighbor_id")
        .select("vec_id", "neighbor_id", cos.alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOPK)
        .select("vec_id", "neighbor_id", "cos_sim", "rank")
    )


# --- fixed-point k-means (the one trainer of every ANN quantizer) --------
#
# The IVF coarse lists (here and in the IVFADC family of similarity_extra),
# the PQ codebooks and the residual codebooks all train with one
# deterministic Lloyd k-means in fixed-point arithmetic, which makes every
# step EXACTLY cross-engine reproducible (the reason the trained queries
# carry full DuckDB oracles although float Lloyd iteration is "not SQL-
# expressible"):
# - the k training vectors with the smallest md5(vec_id) seed the
#   centroids (ties -> smaller vec_id);
# - centroid coordinates live as integers ms = floor(mean * 1e9) (floor of
#   an exact-int ratio: per-cluster SUM(floor(x*1e9)) // count, every step
#   exact in int64 on both engines); an empty cluster keeps its centroid;
# - squared distances are SUM(floor(diff^2 * 1e12)) in int64 — the fold is
#   exact, so argmin/probe ranking (ties -> smaller cluster id) is
#   deterministic and engine-independent.
# Value ranges (embeddings in [-0.6, 0.6], n <= 25k at gate scales) keep
# every intermediate far below 2^53, so the double->int quantization itself
# is exact; the 1e-9 centroid / 1e-12 distance granularity is ~1e6x finer
# than the distance gaps that matter, so recall is unchanged
# (tests/test_ivf_recall.py still pins >= 0.9).
_FX_C = "1e9"  # centroid fixed-point scale
_FX_D = "1e12"  # squared-distance fixed-point scale


def _fx_term(x: str, ms: str) -> str:
    """One fixed-point squared-difference term, the same SQL text for Spark
    and the DuckDB oracles: floor((x - ms/1e9)^2 * 1e12) as int64."""
    return (
        f"CAST(floor(({x} - CAST({ms} AS DOUBLE)/{_FX_C}) "
        f"* ({x} - CAST({ms} AS DOUBLE)/{_FX_C}) * {_FX_D}) AS BIGINT)"
    )


def _subspace_rows(frame, vec: str, subspaces: int):
    """(vec_id, m, sub): one row per vector per subspace, `vec` cut into
    ``subspaces`` equal slices."""
    sub = _DIM // subspaces
    return frame.select(
        "vec_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {subspaces - 1}), "
                f"m -> slice({vec}, m * {sub} + 1, {sub}))"
            )
        ).alias("m", "sub"),
    )


def _fx_assign(df, vec: str, books, out: str):
    """Nearest-centroid assignment of `vec`: adds ``d``, the fixed-point
    squared L2 to every centroid, and ``out``, its argmin (ties -> the
    smaller id). ``books`` holds one codebook per subspace; with several,
    each row's ``m`` picks its codebook in an m-branched CASE, so all
    subspaces assign in one pass.

    Each distance is an interpreted higher-order aggregate over a centroid
    array literal — deliberately NOT unrolled: it runs over n rows (not
    n^2 pairs), so execution is cheap, while K unrolled 64-term
    expressions per assignment dominated ann_topk_ivf with Janino compile
    time (measured ~4s of the ~13s gate cost). The term casts `x` because
    IVF assigns the FLOAT ``embedding`` column.

    No training rows leave no centroid, and then nothing is assigned: the
    frame keeps its schema and loses its rows, as the oracles' join
    against an empty centroid table does."""
    term = _fx_term("CAST(x AS DOUBLE)", "c")

    def dist(cent):
        lits = ", ".join(f"{v}L" for v in cent)
        return (
            f"aggregate(zip_with({vec}, array({lits}), (x, c) -> {term}), "
            f"CAST(0 AS BIGINT), (a, v) -> a + v)"
        )

    if len(books) == 1:
        cells = [dist(c) for c in books[0]]
    else:
        cells = [
            "CASE m "
            + " ".join(f"WHEN {m} THEN {dist(b[k])}" for m, b in enumerate(books))
            + " END"
            for k in range(len(books[0]))
        ]
    d = f"array({', '.join(cells)})"
    if not cells:
        df, d = df.where(F.lit(False)), "CAST(array() AS ARRAY<BIGINT>)"
    return df.withColumn("d", F.expr(d)).withColumn(
        out, F.expr("CAST(array_position(d, array_min(d)) - 1 AS INT)")
    )


def _fx_kmeans(train, vec: str, k: int, iters: int, subspaces: int = 1):
    """Fixed-point Lloyd k-means over ``train``'s (vec_id, `vec`) rows:
    ``iters`` iterations from the k smallest-md5 seeds. Returns one
    codebook per subspace, each up to k centroids as floor(c * 1e9) int64
    lists; with several subspaces `vec` is cut into equal slices that all
    train in one Spark job per iteration.

    The update step is a distributed per-cluster sum with only the
    subspaces x k centroid rows collected — the standard Spark k-means
    shape: tiny driver state, big data stays distributed."""
    seeds = (
        train.select(
            "vec_id",
            F.col(vec).alias("v"),
            F.md5(F.col("vec_id").cast("string")).alias("h"),
        )
        .orderBy("h", "vec_id")
        .limit(k)
        .collect()  # scale-ok: k seed rows
    )
    sub = _DIM // subspaces
    cscale = float(_FX_C)
    books = [
        [
            [math.floor(float(x) * cscale) for x in r.v[m * sub : (m + 1) * sub]]
            for r in seeds
        ]
        for m in range(subspaces)
    ]
    if subspaces == 1:
        rows, col, keys = train, vec, ["cluster"]
    else:
        rows = _subspace_rows(train, vec, subspaces).persist()
        col, keys = "sub", ["m", "cluster"]
    for _ in range(iters):
        means = (
            _fx_assign(rows, col, books, "cluster")
            .groupBy(*keys)
            .agg(
                F.count("*").alias("n"),
                *[
                    F.sum(
                        F.expr(
                            f"CAST(floor(CAST({col}[{i}] AS DOUBLE) "
                            f"* {_FX_C}) AS BIGINT)"
                        )
                    ).alias(f"s{i}")
                    for i in range(sub)
                ],
            )
            .collect()  # scale-ok: subspaces x k centroid rows per Lloyd iteration
        )
        # Python // floors like the oracles' floor(sum/count); both exact
        # (cluster sums stay far below 2^53).
        new = {
            (r.m if subspaces > 1 else 0, r.cluster): [
                r[f"s{i}"] // r.n for i in range(sub)
            ]
            for r in means
        }
        books = [
            [new.get((m, c), cent) for c, cent in enumerate(book)]
            for m, book in enumerate(books)
        ]
    # The exploded training rows are never read again: the codebooks are
    # Python literals from here on.
    if rows is not train:
        rows.unpersist()
    return books


def _ivf_lists(df, vec: str, cents, probe: int, rep: int):
    """IVF list membership from one distance array: ``cluster`` (the
    primary list), ``probe_lists`` (the `probe` nearest, the query side)
    and ``rep_lists`` (the `rep` nearest, the corpus multi-assignment),
    nearest first, ties -> smaller id."""
    ranked = f"array_sort(arrays_zip(d, sequence(0, {len(cents) - 1})))"
    return (
        _fx_assign(df, vec, [cents], "cluster")
        .withColumn(
            "probe_lists",
            F.expr(
                f"transform(slice({ranked}, 1, {probe}), "
                f"x -> CAST(x['1'] AS INT))"
            ),
        )
        .withColumn(
            "rep_lists",
            F.expr(
                f"transform(slice({ranked}, 1, {rep}), "
                f"x -> CAST(x['1'] AS INT))"
            ),
        )
        .drop("d")
    )


# ---------------------------------------------------------------------------
# Brute-force cosine top-k.
# ---------------------------------------------------------------------------


@register(
    "ann_topk_bruteforce",
    oracle=f"""
    WITH normed AS (
      SELECT vec_id, embedding, sqrt({_norm2_duck('embedding')}) AS nrm
      FROM embeddings
    ),
    pairs AS (
      SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
             round({_dot_duck('a.embedding', 'b.embedding')} / a.nrm / b.nrm, 6)
               AS cos_sim
      FROM normed a JOIN normed b ON a.vec_id <> b.vec_id
    )
    SELECT vec_id, neighbor_id, cos_sim, rank FROM (
      SELECT vec_id, neighbor_id, cos_sim,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM pairs
    ) WHERE rank <= {_TOPK}
    """,
    description=f"Exact cosine top-{_TOPK} neighbors per vector (brute-force "
    "baseline): double-precision sequential-fold dot products, deterministic "
    "rank tiebreak on neighbor id.",
    tags=("similarity", "ann", "llm-pipeline"),
    bench=True,
)
def ann_topk_bruteforce(spark, sf_dir):
    e = T(spark, sf_dir, "embeddings")
    normed = e.select(
        "vec_id",
        "embedding",
        F.expr(f"sqrt({_norm2_spark('embedding')})").alias("nrm"),
    )
    # The non-equi self-join is a BroadcastNestedLoopJoin: parallelism = the
    # STREAM side's partition count, and a small parquet file is 1 partition.
    # Hash-repartition the probe side by vec_id — every core gets a slice of
    # the O(n^2) work, and the top-k window (partitionBy vec_id) inherits the
    # partitioning instead of shuffling all n^2 pair rows again. At 100 TB
    # this becomes block-wise: probe partitions stream against a broadcast
    # (or chunked) corpus; the quadratic term is per-block.
    a = spread(normed, spark, by="vec_id").alias("a")
    b = normed.alias("b")
    pairs = a.join(b, F.col("a.vec_id") != F.col("b.vec_id")).select(
        F.col("a.vec_id").alias("vec_id"),
        F.col("b.vec_id").alias("neighbor_id"),
        F.round(
            F.expr(_dot_spark("a.embedding", "b.embedding"))
            / F.col("a.nrm")
            / F.col("b.nrm"),
            6,
        ).alias("cos_sim"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOPK)
        .select("vec_id", "neighbor_id", "cos_sim", "rank")
    )


# ---------------------------------------------------------------------------
# Hyperplane-LSH bucketing + in-bucket top-k (the scale path).
# Planes are ±1 vectors: component (p, d) = +1 iff md5-bit of "plane:p:d".
# ---------------------------------------------------------------------------

_PLANES = 8
_SIGNS = [
    [1 if hash60_py(f"plane:{p}:{d}") & 1 else -1 for d in range(_DIM)]
    for p in range(_PLANES)
]


def _bucket_spark(col: str) -> str:
    terms = []
    for p in range(_PLANES):
        dot = " + ".join(
            f"CAST({col}[{d}] AS DOUBLE) * ({_SIGNS[p][d]})" for d in range(_DIM)
        )
        terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << p} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def _bucket_duck(col: str) -> str:
    terms = []
    for p in range(_PLANES):
        arr = f"[{', '.join(str(s) for s in _SIGNS[p])}]"
        dot = (
            f"list_reduce(list_transform(range(1, {_DIM} + 1), "
            f"i -> CAST({col}[i] AS DOUBLE) * ({arr})[i]), (a, v) -> a + v)"
        )
        terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << p} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


@register(
    "ann_topk_lsh_bucketed",
    oracle=f"""
    WITH normed AS (
      SELECT vec_id, embedding, sqrt({_norm2_duck('embedding')}) AS nrm,
             {_bucket_duck('embedding')} AS bucket
      FROM embeddings
    ),
    pairs AS (
      SELECT a.vec_id AS vec_id, a.bucket AS bucket, b.vec_id AS neighbor_id,
             round({_dot_duck('a.embedding', 'b.embedding')} / a.nrm / b.nrm, 6)
               AS cos_sim
      FROM normed a JOIN normed b
        ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
    )
    SELECT vec_id, bucket, neighbor_id, cos_sim, rank FROM (
      SELECT vec_id, bucket, neighbor_id, cos_sim,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM pairs
    ) WHERE rank <= {_TOPK}
    """,
    description=f"LSH-bucketed approximate top-{_TOPK}: {_PLANES} md5-derived "
    "random-hyperplane signs bucket the vectors; candidates and the "
    "quadratic cost stay inside buckets (the 100 TB path).",
    tags=("similarity", "ann", "lsh", "llm-pipeline"),
    bench=True,
)
def ann_topk_lsh_bucketed(spark, sf_dir):
    e = T(spark, sf_dir, "embeddings")
    # persist: both self-join sides evaluate the 8x64-term bucket expression
    # otherwise (broadcast + stream subplans don't share). spread BEFORE
    # persist: a small parquet scan is one partition, and the cached
    # stream side of the bucket self-join would score every candidate
    # pair on one core (measured 6.9 s vs 2.1 s for the 9x-probe
    # multiprobe variant at the 20k decade — the only difference was
    # this missing repartition; no-op on a real cluster where the scan
    # already has >= cores splits).
    normed = spread(
        e.select(
            "vec_id",
            "embedding",
            F.expr(f"sqrt({_norm2_spark('embedding')})").alias("nrm"),
            F.expr(_bucket_spark("embedding")).alias("bucket"),
        ),
        spark,
        by="vec_id",
    ).persist()
    a = normed.alias("a")
    b = normed.alias("b")
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec_id"),
        F.col("a.bucket").alias("bucket"),
        F.col("b.vec_id").alias("neighbor_id"),
        F.round(
            F.expr(_dot_spark("a.embedding", "b.embedding"))
            / F.col("a.nrm")
            / F.col("b.nrm"),
            6,
        ).alias("cos_sim"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOPK)
        .select("vec_id", "bucket", "neighbor_id", "cos_sim", "rank")
    )


# ---------------------------------------------------------------------------
# Cosine near-duplicate pairs (threshold over exact scores).
# ---------------------------------------------------------------------------

_NEAR_DUP_MIN = 0.35


@register(
    "embedding_near_dup",
    oracle=f"""
    WITH normed AS (
      SELECT vec_id, embedding, label, sqrt({_norm2_duck('embedding')}) AS nrm
      FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           a.label AS label_a, b.label AS label_b,
           round({_dot_duck('a.embedding', 'b.embedding')} / a.nrm / b.nrm, 6)
             AS cos_sim
    FROM normed a JOIN normed b ON a.vec_id < b.vec_id
    WHERE round({_dot_duck('a.embedding', 'b.embedding')} / a.nrm / b.nrm, 6)
          >= {_NEAR_DUP_MIN}
    """,
    description=f"Embedding-cosine near-duplicate pairs (cosine >= "
    f"{_NEAR_DUP_MIN}) with label agreement — the embedding analogue of "
    "MinHash verify. DEFINITION/ORACLE FORM ONLY: this one-line "
    "expression join is the semantic definition and the truth anchor "
    "for the recall audits; the OPERATIONAL form is "
    "embedding_near_dup_hybrid (byte-identical result — same oracle — "
    "at block-wise cost: Catalyst pushes the threshold into the BNLJ "
    "condition here, where the 64-term dot evaluates interpreted per "
    "pair — measured 857 s vs the hybrid's 47.8 s at the 20k decade). "
    "Compositions must use the hybrid (ann_topk_bruteforce precedent; "
    "pinned by test_label_eval_reports_avoid_bnlj_kernel).",
    tags=("similarity", "dedup", "llm-pipeline"),
)
def embedding_near_dup(spark, sf_dir):
    e = T(spark, sf_dir, "embeddings")
    normed = e.select(
        "vec_id",
        "embedding",
        "label",
        F.expr(f"sqrt({_norm2_spark('embedding')})").alias("nrm"),
    )
    # Same BroadcastNestedLoopJoin parallelism fix as ann_topk_bruteforce.
    a = spread(normed, spark, by="vec_id").alias("a")
    b = normed.alias("b")
    cos = F.round(
        F.expr(_dot_spark("a.embedding", "b.embedding"))
        / F.col("a.nrm")
        / F.col("b.nrm"),
        6,
    )
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.label").alias("label_a"),
            F.col("b.label").alias("label_b"),
            cos.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= _NEAR_DUP_MIN)
    )


# ---------------------------------------------------------------------------
# IVF-style ANN: deterministic k-means coarse quantizer (Lloyd iterations as
# DataFrame jobs), then probe the nearest inverted lists only.
# ---------------------------------------------------------------------------

_IVF_K = 16  # centroids / inverted lists
_IVF_ITERS = 5  # Lloyd iterations
_IVF_PROBE = 6  # lists probed per query
_IVF_REP = 3  # lists each corpus vector is assigned to (multi-assignment)


def _ivf_core_blocks() -> list[str]:
    """DuckDB replica of the IVF training chain: md5-seeded init,
    _IVF_ITERS unrolled Lloyd iterations in the same int64 fixed-point
    arithmetic as the Spark side, ending with ``af`` — the final
    per-(vec, cluster) assignment relation ranked by distance (rn = 1 is
    the primary list). Seed ranking and the Lloyd assignments a1..aN run
    over the deterministic corpus-capped md5 sample (``tdims`` — the
    Spark side's training frame); only the final ``af`` assignment scans
    the corpus. Shared by _ivf_oracle and the nprobe recall curve."""
    cs, ds = _FX_C, _FX_D
    samp = TRAIN_SAMPLE_PRED

    def assign(name: str, cents: str, rel: str = "dims") -> str:
        return f"""
    {name} AS (
      SELECT vec_id, cluster,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY dist, cluster) AS rn
      FROM (
        SELECT v.vec_id, c.cluster,
               sum(CAST(floor((v.x - CAST(c.ms AS DOUBLE)/{cs})
                              * (v.x - CAST(c.ms AS DOUBLE)/{cs})
                              * {ds}) AS BIGINT)) AS dist
        FROM {rel} v JOIN {cents} c ON c.d = v.d
        GROUP BY v.vec_id, c.cluster
      )
    )"""

    blocks = [
        f"""
    dims AS (
      SELECT vec_id, i AS d, CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings, range(1, {_DIM} + 1) r(i)
    ),
    tdims AS (
      SELECT * FROM dims WHERE {samp}
    ),
    seeds AS (
      SELECT vec_id,
             row_number() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cluster
      FROM embeddings
      WHERE {samp}
      QUALIFY cluster < {_IVF_K}
    ),
    c0 AS (
      SELECT s.cluster, v.d, CAST(floor(v.x * {cs}) AS BIGINT) AS ms
      FROM seeds s JOIN dims v ON v.vec_id = s.vec_id
    )"""
    ]
    for k in range(1, _IVF_ITERS + 1):
        blocks.append(assign(f"a{k}", f"c{k - 1}", "tdims"))
        blocks.append(f"""
    c{k} AS (
      SELECT p.cluster, p.d,
             coalesce(CAST(floor(CAST(s.sv AS DOUBLE) / s.n) AS BIGINT),
                      p.ms) AS ms
      FROM c{k - 1} p
      LEFT JOIN (
        SELECT a.cluster, v.d,
               sum(CAST(floor(v.x * {cs}) AS BIGINT)) AS sv,
               count(*) AS n
        FROM (SELECT vec_id, cluster FROM a{k} WHERE rn = 1) a
        JOIN tdims v ON v.vec_id = a.vec_id
        GROUP BY a.cluster, v.d
      ) s ON s.cluster = p.cluster AND s.d = p.d
    )""")
    blocks.append(assign("af", f"c{_IVF_ITERS}"))
    return blocks


def _ivf_oracle() -> str:
    """Probe/rep candidate generation + exact cosine re-rank over the
    shared training chain (_ivf_core_blocks)."""
    blocks = _ivf_core_blocks()
    blocks.append(f"""
    cand AS (
      SELECT DISTINCT q.vec_id AS q_id, m.vec_id AS n_id
      FROM (SELECT vec_id, cluster FROM af WHERE rn <= {_IVF_PROBE}) q
      JOIN (SELECT vec_id, cluster FROM af WHERE rn <= {_IVF_REP}) m
        ON m.cluster = q.cluster AND m.vec_id <> q.vec_id
    ),
    normed AS (
      SELECT vec_id, embedding, sqrt({_norm2_duck('embedding')}) AS nrm
      FROM embeddings
    ),
    scored AS (
      SELECT c.q_id AS vec_id, c.n_id AS neighbor_id,
             round({_dot_duck('a.embedding', 'b.embedding')}
                   / a.nrm / b.nrm, 6) AS cos_sim
      FROM cand c
      JOIN normed a ON a.vec_id = c.q_id
      JOIN normed b ON b.vec_id = c.n_id
    )""")
    return f"""
    WITH {",".join(blocks)}
    SELECT vec_id, neighbor_id, cos_sim, rank FROM (
      SELECT vec_id, neighbor_id, cos_sim,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {_TOPK}
    """


@register(
    "ann_topk_ivf",
    oracle=_ivf_oracle(),
    description=f"IVF ANN: {_IVF_K}-centroid k-means coarse quantizer "
    f"({_IVF_ITERS} Lloyd iterations as DataFrame aggregates, deterministic "
    f"md5-seeded init) with multi-assignment — each corpus vector joins its "
    f"{_IVF_REP} nearest inverted lists, each query probes its {_IVF_PROBE} "
    "nearest — then exact cosines rank the deduplicated candidates. "
    "Centroids and distances use int64 fixed-point arithmetic (floor-"
    "quantized at 1e-9 / 1e-12 — granularity ~1e6x below meaningful "
    "distance gaps), which makes every Lloyd step EXACTLY reproducible "
    "cross-engine: the full pipeline, k-means included, is hash-checked "
    "against an unrolled DuckDB oracle. Measured recall 0.96+ vs "
    "ann_topk_bruteforce at gate scale (pinned by tests/test_ivf_recall.py). "
    "The synthetic corpus is near-isotropic (max pairwise cosine ~0.51), "
    "which is the hardest case for IVF — the candidate fraction at this "
    "recall is ~0.8 here, while on real clustered embeddings the same "
    "PROBE/K shape prunes far harder. Since round 7 candidate generation "
    "and scoring run in a vectorized scan kernel: probe/rep membership "
    "is one int64 bitmask per side (K <= 64), candidates are a bitwise "
    "AND against bounded corpus-chunk broadcasts, exact cosines run in "
    "the hybrid kernel's sequential fold, and margin-guarded top-k "
    "candidates return to Spark for the codegen re-score.",
    tags=("similarity", "ann", "ivf", "llm-pipeline"),
)
def ann_topk_ivf(spark, sf_dir):
    return _ivf_topk_multi(spark, sf_dir)[0][1]


def _ivf_topk_multi(spark, sf_dir, probes=(_IVF_PROBE,), queries=None):
    """The IVF pipeline with the training chain shared across a probe
    SWEEP: one md5-seeded k-means fit + one corpus assignment pass, then
    per-probe candidate kernels over the same broadcast corpus chunks —
    the faiss nprobe-tuning loop's cost shape (training once, probing N
    ways). Returns ``[(probe, topk_df), ...]`` in ``probes`` order.

    ``queries`` (optional narrow (vec_id) frame) restricts the PROBE side
    to an eval sample before the kernel — the recall-curve harness shape;
    corpus/list sides are untouched. Default args reproduce ann_topk_ivf
    byte-identically (probe_lists sliced at max(probes) == _IVF_PROBE and
    masks built from the first _IVF_PROBE entries)."""
    max_p = max(probes)
    e = T(spark, sf_dir, "embeddings")
    normed = spread(
        e.select(
            "vec_id",
            "embedding",
            F.expr(f"sqrt({_norm2_spark('embedding')})").alias("nrm"),
        ),
        spark,
        by="vec_id",
    ).persist()

    # Training runs over the deterministic corpus-capped md5 sample (the
    # 100 TB shape — faiss trains coarse quantizers on a bounded
    # training set regardless of corpus size; only the final assignment
    # scans the corpus). train_sample is TRAIN_SAMPLE_PRED's Spark twin
    # — both derive from the same cap/scale constants, so the engines
    # cannot drift.
    n_corpus = normed.count()  # scale-ok: 1 scalar count (threshold literal)
    (cents,) = _fx_kmeans(
        train_sample(normed, n_corpus), "embedding", _IVF_K, _IVF_ITERS
    )
    final = _ivf_lists(normed, "embedding", cents, max_p, _IVF_REP).persist()
    # Candidate generation + exact scoring in a vectorized kernel
    # (round 7, VERDICT r6 #2 — at the 20k decade the explode/join/
    # distinct candidate stream plus the per-pair codegen scoring ran
    # 64 s, 4x slower than the hybrid exact scan of the SAME corpus):
    # with K <= 64 lists, probe/rep membership is one int64 bitmask per
    # side, so the candidate set is a bitwise AND against the broadcast
    # corpus chunk (identical to the exploded equi-join's distinct pair
    # set), scored and margin-cut by the scan core.
    import pandas as pd

    def build(rows):
        return (
            np.array([r.vec_id for r in rows], dtype=np.int64),
            np.array(
                [r.embedding for r in rows], dtype=np.float32
            ).astype(np.float64),
            np.array([r.nrm for r in rows], dtype=np.float64),
            np.array(
                [sum(1 << int(c) for c in r.rep_lists) for r in rows],
                dtype=np.int64,
            ),
        )

    def make_scan(bc, n_probe):
        def scan(batches):
            ids, E, nb, rep_mask = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                q_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
                Q = np.array(
                    [np.asarray(v, dtype=np.float32) for v in pdf["embedding"]]
                ).astype(np.float64)
                q_nrm = pdf["nrm"].to_numpy(dtype=np.float64)
                pmasks = np.array(
                    [
                        sum(1 << int(c) for c in pl[:n_probe])
                        for pl in pdf["probe_lists"]
                    ],
                    dtype=np.int64,
                )
                out_q, out_n = [], []
                for i in range(len(q_ids)):
                    sel = ((rep_mask & pmasks[i]) != 0) & (ids != q_ids[i])
                    cand_i = np.nonzero(sel)[0]
                    if cand_i.size == 0:
                        continue
                    cos = (_seq_dot(Q[i], E[cand_i]) / q_nrm[i]) / nb[cand_i]
                    keep = cand_i[_margin_keep(cos, _TOPK)]
                    out_q.extend([q_ids[i]] * keep.size)
                    out_n.extend(ids[keep].tolist())
                yield pd.DataFrame({"vec_id": out_q, "neighbor_id": out_n})

        return scan

    probe = final.select("vec_id", "embedding", "nrm", "probe_lists")
    if queries is not None:
        probe = probe.join(queries.select("vec_id"), "vec_id")
    bcs = _chunk_broadcasts(
        spark,
        final.select("vec_id", "embedding", "nrm", "rep_lists"),
        build,
        _n_chunks(n_corpus),
    )
    return [
        (
            p,
            _rescore_topk(
                _scan(
                    probe,
                    bcs,
                    lambda bc, p=p: make_scan(bc, p),
                    "vec_id long, neighbor_id long",
                ),
                final,
            ),
        )
        for p in probes
    ]


# ---------------------------------------------------------------------------
# Hybrid exact top-k: numpy candidate generation + Spark exact re-scoring.
# Same oracle as ann_topk_bruteforce — the result is IDENTICAL, only the
# physical strategy changes (this is the block-wise 100 TB shape).
# ---------------------------------------------------------------------------


@register(
    "ann_topk_bruteforce_hybrid",
    oracle=f"""
    WITH normed AS (
      SELECT vec_id, embedding, sqrt({_norm2_duck('embedding')}) AS nrm
      FROM embeddings
    ),
    pairs AS (
      SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
             round({_dot_duck('a.embedding', 'b.embedding')} / a.nrm / b.nrm, 6)
               AS cos_sim
      FROM normed a JOIN normed b ON a.vec_id <> b.vec_id
    )
    SELECT vec_id, neighbor_id, cos_sim, rank FROM (
      SELECT vec_id, neighbor_id, cos_sim,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM pairs
    ) WHERE rank <= {_TOPK}
    """,
    description=f"Exact cosine top-{_TOPK}, hybrid strategy: an Arrow-batched "
    "numpy kernel computes all cosines with the SAME sequential-fold "
    "operation order as the SQL expression (one accumulation step per "
    "dimension, vectorized across pairs — bit-identical doubles) and emits "
    f"a per-query candidate set with a {_MARGIN} raw-cosine margin below "
    f"the {_TOPK}th best (rounding moves values < 5e-7, so the exact "
    "rounded top-k is provably inside); Spark then re-scores candidates "
    "with the codegen expression and ranks. Same oracle as "
    "ann_topk_bruteforce — identical result, block-wise physical plan "
    "(probe blocks x broadcast corpus block at 100 TB).",
    tags=("similarity", "ann", "hybrid", "llm-pipeline"),
    bench=True,
)
def ann_topk_bruteforce_hybrid(spark, sf_dir):
    import pandas as pd

    e = T(spark, sf_dir, "embeddings")

    def make_gen(bc):
        def gen_candidates(batches):
            for q_ids, n_ids, cos in _cos_tiles(batches, bc):
                out_q, out_n = [], []
                for i in range(len(q_ids)):
                    other = np.nonzero(n_ids != q_ids[i])[0]
                    if other.size == 0:
                        continue
                    keep = other[_margin_keep(cos[i, other], _TOPK)]
                    out_q.extend([q_ids[i]] * keep.size)
                    out_n.extend(n_ids[keep].tolist())
                yield pd.DataFrame({"vec_id": out_q, "neighbor_id": out_n})

        return gen_candidates

    corpus = e.select("vec_id", "embedding")
    bcs = _chunk_broadcasts(spark, corpus, _corpus_arrays, _n_chunks(e.count()))
    cand = _scan(
        spread(corpus, spark, by="vec_id"),
        bcs,
        make_gen,
        "vec_id long, neighbor_id long",
    )
    return _rescore_topk(
        cand,
        e.select(
            "vec_id",
            "embedding",
            F.expr(f"sqrt({_norm2_spark('embedding')})").alias("nrm"),
        ),
    )


# ---------------------------------------------------------------------------
# Hybrid near-dup: the blocked numpy kernel generates threshold candidates
# (margin-guarded), Spark re-scores exactly. Same oracle as
# embedding_near_dup — identical result, scales like the hybrid top-k.
# ---------------------------------------------------------------------------


@register(
    "embedding_near_dup_hybrid",
    oracle=f"""
    WITH normed AS (
      SELECT vec_id, embedding, label, sqrt({_norm2_duck('embedding')}) AS nrm
      FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           a.label AS label_a, b.label AS label_b,
           round({_dot_duck('a.embedding', 'b.embedding')} / a.nrm / b.nrm, 6)
             AS cos_sim
    FROM normed a JOIN normed b ON a.vec_id < b.vec_id
    WHERE round({_dot_duck('a.embedding', 'b.embedding')} / a.nrm / b.nrm, 6)
          >= {_NEAR_DUP_MIN}
    """,
    description=f"Embedding near-duplicate pairs (cosine >= {_NEAR_DUP_MIN}) "
    "by the hybrid strategy: the double-blocked numpy kernel (sequential "
    f"per-dimension accumulation, bit-identical doubles) emits pairs above "
    f"{_NEAR_DUP_MIN} - 2e-6 and Spark re-scores them with the codegen "
    "expression for the exact rounded threshold — identical result to "
    "embedding_near_dup, block-wise cost.",
    tags=("similarity", "dedup", "hybrid", "llm-pipeline"),
)
def embedding_near_dup_hybrid(spark, sf_dir):
    import pandas as pd

    e = T(spark, sf_dir, "embeddings")
    cut = _NEAR_DUP_MIN - _MARGIN

    def make_gen(bc):
        def gen_pairs(batches):
            # A fixed threshold needs no k-th best: each tile emits exactly
            # its pairs above the margin-guarded threshold (a.vec_id <
            # b.vec_id), and the union over tiles and chunks is the full
            # candidate set.
            for q_ids, n_ids, cos in _cos_tiles(batches, bc):
                hit_q, hit_c = np.nonzero(
                    (cos >= cut) & (q_ids[:, None] < n_ids[None, :])
                )
                yield pd.DataFrame(
                    {"vec_a": q_ids[hit_q], "vec_b": n_ids[hit_c]}
                )

        return gen_pairs

    corpus = e.select("vec_id", "embedding")
    bcs = _chunk_broadcasts(spark, corpus, _corpus_arrays, _n_chunks(e.count()))
    cand = _scan(
        spread(corpus, spark, by="vec_id"), bcs, make_gen, "vec_a long, vec_b long"
    )
    normed = e.select(
        "vec_id",
        "embedding",
        "label",
        F.expr(f"sqrt({_norm2_spark('embedding')})").alias("nrm"),
    )
    a = normed.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("a_emb"),
        F.col("label").alias("label_a"),
        F.col("nrm").alias("a_nrm"),
    )
    b = normed.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("b_emb"),
        F.col("label").alias("label_b"),
        F.col("nrm").alias("b_nrm"),
    )
    cos = F.round(
        F.expr(_dot_spark("a_emb", "b_emb")) / F.col("a_nrm") / F.col("b_nrm"),
        6,
    )
    # Plain hash joins — the re-score sides are the full embeddings table;
    # AQE broadcasts when small (see _rescore_topk).
    return (
        cand.join(a, "vec_a")
        .join(b, "vec_b")
        .select(
            "vec_a", "vec_b", "label_a", "label_b", cos.alias("cos_sim")
        )
        .filter(F.col("cos_sim") >= _NEAR_DUP_MIN)
    )

