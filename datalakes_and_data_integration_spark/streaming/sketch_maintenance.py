"""Streaming sketch maintenance: one staged-commit merge for all state.

The point of a mergeable sketch (plans/sketches.py) is that INCREMENTAL
maintenance is the same operation as distributed aggregation: each
micro-batch produces a small increment (an HLL register file or bitmap
words, made by the functions the queries use, ``plans.sketches.hll_regs``
and ``bitmap_word_rows``; CMS bucket totals; per-key metric rows), and
folding it into the persisted state is one ``groupBy(keys).agg(merge)``
over state ∪ increment — no rescan of history, state size bounded by
the sketch.

Every family goes through ONE transition, ``merge_state``. Increments
carry a batch label in the ``__bid`` column (a per-batch call is one
label); the transition applies every label the ledger has not seen in
one re-aggregation and commits the new state and the applied ids
together. What the ledger means depends on the merge algebra:

| algebra | state | redelivered batch | ledger is |
|---|---|---|---|
| sum | CMS buckets, A/B metric sums, histograms, daily sums | double-counts | required for exactly-once |
| max | HLL registers | no-op by algebra | a skip-work record |
| min / max | per-key first/last weeks | no-op by algebra | a skip-work record |
| bit_or | exact-distinct bitmap words | no-op by algebra | a skip-work record |
| sum + min / max | daily rollup partials (``operators.rollup.ROLLUP_AGGS``) | double-counts n and sum_v | required for exactly-once |

The staged commit matters for every algebra: a torn write of the only
copy of the state would corrupt it whatever the algebra, so the new
state is always written to a fresh directory and only then made live.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datalakes_and_data_integration_spark.functions.hashing import (
    hash60_sql_spark,
)

BID = "__bid"  # batch-label column every increment frame carries


def merge_state(
    spark: SparkSession,
    state_dir: str,
    increments: DataFrame,
    batch_ids: list[int],
    key_cols: list[str],
    aggs: dict[str, str],
) -> DataFrame:
    """Apply every unapplied batch of ``increments`` to the state in
    ``state_dir`` in ONE transition and return the new state.

    ``increments`` holds the key-grouped increment rows of every batch,
    labeled by ``BID`` (one label per entry of ``batch_ids``; a batch
    with no rows is still recorded as applied). ``aggs`` maps each
    state column to its merge function (``sum``, ``min``, ``max``,
    ``bit_or``); the merged column keeps its name.

    1. Read ``COMMIT.json``: the active ``sketch-*`` dir and the
       applied-batch ids.
    2. Remove every ``sketch-*`` dir it does not name. A crash between
       the staged write and the commit leaves one behind, and a retry
       under another id stages another name, so orphans would pile up.
    3. Skip ids already applied (replay keeps exactly-once for sum).
    4. ``groupBy(keys).agg(aggs)`` over state ∪ unapplied increments —
       equal to the per-batch fold because every merge function is
       associative and commutative.
    5. Write the result into a fresh ``sketch-*`` dir, which never
       aliases the dir being read.
    6. Flip the state pointer and the applied ids together with one
       ``os.replace`` of ``COMMIT.json``, then drop the superseded dir.

    A crash anywhere before step 6 leaves the previous consistent
    (state, ledger) pair on disk, and replay re-merges every id the
    ledger never recorded."""
    os.makedirs(state_dir, exist_ok=True)
    commit_path = os.path.join(state_dir, "COMMIT.json")
    applied: set[str] = set()
    cur_name = None
    if os.path.exists(commit_path):
        with open(commit_path) as fh:
            commit = json.load(fh)
        applied, cur_name = set(commit["applied"]), commit["sketch"]
    for entry in os.listdir(state_dir):
        if entry.startswith("sketch-") and entry != cur_name:
            shutil.rmtree(os.path.join(state_dir, entry), ignore_errors=True)
    cur_dir = os.path.join(state_dir, cur_name) if cur_name else None
    new_ids = [b for b in batch_ids if str(b) not in applied]
    if not new_ids:
        return spark.read.parquet(cur_dir)
    rows = increments.filter(F.col(BID).isin(new_ids)).drop(BID)
    if cur_dir is not None:
        rows = spark.read.parquet(cur_dir).unionByName(rows)
    new_name = f"sketch-{len(applied):06d}-{max(new_ids)}"
    new_dir = os.path.join(state_dir, new_name)
    rows.groupBy(*key_cols).agg(
        *[F.expr(f"{fn}({c})").alias(c) for c, fn in aggs.items()]
    ).write.mode("overwrite").parquet(new_dir)
    tmp = commit_path + ".staged"
    with open(tmp, "w") as fh:
        json.dump(
            {
                "applied": sorted(applied | {str(b) for b in new_ids}),
                "sketch": new_name,
            },
            fh,
        )
    os.replace(tmp, commit_path)  # the atomic commit point
    if cur_dir is not None:  # superseded generation, post-commit GC
        shutil.rmtree(cur_dir, ignore_errors=True)
    return spark.read.parquet(new_dir)


# --------------------------------------------------------------------------
# Count-min sketch maintenance. CMS merge is bucket-wise SUM, so unlike
# HLL (max) a redelivered batch would double-count: exactly-once rests
# on merge_state's applied-batch ledger, the same contract Structured
# Streaming's state store keeps through batch ids.
# --------------------------------------------------------------------------

_CMS_MAINT_D = 4
_CMS_MAINT_W = 1024
_CMS_MAINT_SEED0 = 140  # disjoint from the batch CMS family (100..103)


# Kirsch-Mitzenmacher double hashing: ONE md5 per key yields all d row
# buckets as (h1 + s*h2) % w (h2 forced odd so a power-of-two w is fully
# covered) — the same trick the MinHash band family uses. Combined with
# per-key pre-aggregation below, the hash work per batch is O(distinct
# keys), not O(rows x d): the first ladder cut of this query measured
# 4 md5s per RAW event (6.7 s / 25.7 s at 100k / 1m events).
_CMS_H_SPLIT = 1 << 30


def _cms_bucket_exprs(h_col: str) -> list:
    return [
        F.expr(
            f"(({h_col} % {_CMS_H_SPLIT}) + {s} * "
            f"(({h_col} div {_CMS_H_SPLIT}) | 1)) % {_CMS_MAINT_W}"
        )
        for s in range(_CMS_MAINT_D)
    ]


def cms_rows(
    df: DataFrame, key_col: str, extra: tuple[str, ...] = ()
) -> DataFrame:
    """(seed, bucket, total) CMS increment for the batch: per-key counts
    first (map-side combined — rows never carry hashes), then one md5
    per distinct key fanned into the d double-hashed buckets, summed.
    Mergeable by summing. ``extra`` names pass-through grouping columns
    (the batched maintenance path labels rows with a batch id and
    builds every weekly increment in one scan); the default path's
    plan is unchanged."""
    keyed = (
        df.groupBy(*extra, F.col(key_col).cast("string").alias("k"))
        .agg(F.count("*").alias("cnt"))
        .withColumn(
            "h", F.expr(hash60_sql_spark("k", seed=_CMS_MAINT_SEED0))
        )
    )
    return (
        keyed.select(
            *extra,
            "cnt",
            F.posexplode(F.array(*_cms_bucket_exprs("h"))).alias(
                "seed", "bucket"
            ),
        )
        .groupBy(*extra, "seed", "bucket")
        .agg(F.sum("cnt").alias("total"))
    )


def cms_lookup(keys: DataFrame, sketch: DataFrame, key_col: str) -> DataFrame:
    """min-over-d-rows CMS estimates for ``keys``: one equi-join on
    (seed, bucket) probes all d rows per key (the heavy_hitters_cms
    single-join form), then min() realizes the estimate."""
    probed = keys.withColumn(
        "h",
        F.expr(
            hash60_sql_spark(
                f"CAST({key_col} AS STRING)", seed=_CMS_MAINT_SEED0
            )
        ),
    ).select(
        *keys.columns,
        F.posexplode(F.array(*_cms_bucket_exprs("h"))).alias(
            "seed", "bucket"
        ),
    )
    # LEFT join: a probed (seed, bucket) with no sketch row means no key
    # ever hashed there — its count is 0, and the CMS min must see it
    # (an inner join would drop never-seen keys entirely, or overstate
    # keys with only some empty buckets; code-review r7 s6).
    return (
        probed.join(F.broadcast(sketch), ["seed", "bucket"], "left")
        .groupBy(*keys.columns)
        .agg(
            F.min(F.coalesce("total", F.lit(0).cast("long"))).alias(
                "cms_est"
            )
        )
    )

