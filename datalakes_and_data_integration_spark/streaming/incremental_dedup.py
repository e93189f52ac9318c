"""Incremental near-dup dedup: the streaming twin of dedup_minhash_lsh.

The batch query (plans/dedup.py) compares the corpus against itself; a
100 TB ingest can't re-run that per day. The incremental form keeps the
BAND INDEX as the persisted state — (band, bv) keys of every accepted
document — and each micro-batch:

1. computes MinHash band signatures for the incoming docs with the
   batch query's own ``minhash_sigs``/``minhash_band_rows``, so batch
   and incremental agree on what "near-dup" is;
2. drops docs colliding with the index (cross-batch near-dups);
3. greedily drops in-batch collisions (later doc_id loses — the
   arrival-order analogue of the batch keeper rule);
4. appends the survivors' bands to the index and the survivors to the
   kept table.

State size is O(accepted docs x bands) key rows — the sketch, not the
corpus. The band join is the same bounded candidate shuffle the batch
query does, against an index that parquet scans prune by band.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datalakes_and_data_integration_spark.functions.text import (
    shingles_expr_spark,
    tokens_sql_spark,
)
from datalakes_and_data_integration_spark.plans.dedup import (
    minhash_band_rows,
    minhash_sigs,
)


def minhash_bands(docs: DataFrame) -> DataFrame:
    """(doc_id, text) -> (doc_id, band, bv): the LSH band signatures,
    identical family to plans/dedup.dedup_minhash_lsh."""
    tok = docs.select("doc_id", F.expr(tokens_sql_spark()).alias("toks"))
    shing = shingles_expr_spark("toks", 3)
    shingled = tok.select("doc_id", F.expr(shing).alias("sh")).filter(
        F.size("sh") > 0
    )
    return minhash_band_rows(minhash_sigs(shingled))


def incremental_minhash_dedup(
    spark: SparkSession, state_dir: str, batch: DataFrame
) -> DataFrame:
    """Process one micro-batch against the persisted band index.

    Returns the accepted docs (same schema as ``batch``) after writing
    them to ``state_dir/kept`` and their bands to ``state_dir/bands``.
    Designed as a ``foreachBatch`` body: deterministic, idempotent per
    batch content (a redelivered doc collides with its own bands and is
    dropped).
    """
    bands_dir = os.path.join(state_dir, "bands")
    kept_dir = os.path.join(state_dir, "kept")
    bands = minhash_bands(batch).persist()

    # Cross-batch: any band collision with the index rejects the doc.
    if os.path.isdir(bands_dir):
        index = spark.read.parquet(bands_dir)
        collided = (
            bands.join(index, ["band", "bv"], "left_semi")
            .select("doc_id")
            .distinct()
        )
        survivors = bands.join(collided, "doc_id", "left_anti")
    else:
        survivors = bands

    # In-batch: greedy arrival-order keeper — the smaller doc_id of a
    # colliding pair stays (matches the batch query's min-id cluster
    # representative for pairwise collisions).
    a = survivors.alias("a")
    b = survivors.alias("b")
    in_batch_losers = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("b.doc_id").alias("doc_id"))
        .distinct()
    )
    accepted_bands = survivors.join(in_batch_losers, "doc_id", "left_anti")
    accepted_ids = accepted_bands.select("doc_id").distinct()
    accepted = batch.join(accepted_ids, "doc_id", "left_semi")

    accepted_bands.write.mode("append").parquet(bands_dir)
    accepted.write.mode("append").parquet(kept_dir)
    bands.unpersist()
    return accepted
