"""Continuous-aggregate rollup maintenance (hypertable-style).

The reference's pipeline recomputes its curated aggregates from the full
staging table every run (process_to_curated.py — full-table read, then
grouped aggregation). That is fine at 33k rows and fatal at 100 TB: a
daily refresh must not rescan a year of history to fold in one day.

The standard warehouse answer — TimescaleDB continuous aggregates,
Materialize/Flink incremental views, BigQuery materialized views — is a
*mergeable partial-aggregate* table:

- ``partial_rollup``: per (grain-bucket, key) the partial state of each
  aggregate — count, exact decimal sum, min, max. Every one of these
  merges associatively, so increments combine with history by a keyed
  re-aggregation of the partials (never the raw rows).
- ``merge_rollups``: old partials ∪ new partials → groupBy the same keys
  and combine. The shuffle moves O(|buckets × keys|) rows — at a daily
  grain, thousands — regardless of raw volume.
- ``finalize_rollup``: turn partial state into user-facing aggregates
  (avg = sum/n) at read time.
- Merge-on-read: serve closed buckets from the rollup and the open tail
  from raw events, unioned at the partial level, so the rollup never has
  to be bang-up-to-date (`plans/maintenance.py` composes this).

AVG is the canonical example of why partials store (sum, n), not the
average: averages don't merge; (sum, n) pairs do. Same decomposition
extends to var/stddev (add sum-of-squares) — see
``plans/relational.py``'s winsorized stats for the s1/s2 form.

Persistence is ``streaming.sketch_maintenance.merge_state`` under
``ROLLUP_AGGS``: every increment carries a batch label, one transition
folds the unapplied ones into the stored partials and commits state and
applied-batch ledger together. Each transition rewrites the whole
rollup into a fresh dir, O(|buckets × keys|) rows; the merge shuffles
partials hashed on (bucket, key) with map-side combine. Nothing here
reads more raw data than the increment itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: partial-aggregate column -> its merge function, in schema order
ROLLUP_AGGS = {"n": "sum", "sum_v": "sum", "min_v": "min", "max_v": "max"}
PARTIAL_COLS = tuple(ROLLUP_AGGS)


def partial_rollup(
    events: DataFrame,
    bucket_expr,
    keys: list[str],
    value_col: str = "value",
) -> DataFrame:
    """Fold raw rows into per-(bucket, keys) mergeable partials.

    ``sum_v`` is an exact DECIMAL so merge order can never change the
    result (float sums are order-dependent; partial-merge trees reorder
    freely). DECIMAL(27,6) holds 1e21 of µ-precision values — years of
    100 TB-scale sums.
    """
    return (
        events.withColumn("bucket", bucket_expr)
        .groupBy("bucket", *keys)
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col(value_col).cast("decimal(27,6)")).alias("sum_v"),
            F.min(value_col).alias("min_v"),
            F.max(value_col).alias("max_v"),
        )
    )


def merge_rollups(*rollups: DataFrame) -> DataFrame:
    """Associatively combine partial-rollup tables (same schema).

    count-sum / sum-sum / min-min / max-max are each commutative monoids,
    so any merge tree — per-day increments, per-region shards, replays of
    the same window after a backfill — converges to the same table.
    """
    it = iter(rollups)
    out = next(it)
    for r in it:
        out = out.unionByName(r)
    keys = [c for c in out.columns if c not in PARTIAL_COLS]
    return out.groupBy(*keys).agg(
        *[F.expr(f"{fn}({c})").alias(c) for c, fn in ROLLUP_AGGS.items()]
    )


def finalize_rollup(rollup: DataFrame) -> DataFrame:
    """Partial state -> user-facing aggregates (read-time projection).

    avg goes through double division then a DECIMAL(27,12) round so both
    engines make the identical half-boundary call (NOTES.md rounding
    recipe — sum/n denominators are counts, i.e. exactly the 2^a·5^b
    case that lands on .5 boundaries).
    """
    keys = [c for c in rollup.columns if c not in PARTIAL_COLS]
    return rollup.select(
        *keys,
        F.col("n").alias("n_events"),
        F.round(F.col("sum_v"), 4).cast("double").alias("total_value"),
        F.expr(
            "CAST(ROUND(CAST(CAST(sum_v AS DOUBLE) / n AS DECIMAL(27,12)), 6)"
            " AS DOUBLE)"
        ).alias("avg_value"),
        F.col("min_v").alias("min_value"),
        F.col("max_v").alias("max_value"),
    )

