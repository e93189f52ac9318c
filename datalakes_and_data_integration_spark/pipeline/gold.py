"""Gold zone: the curated wide table (reference process_to_curated.py).

Operator order is FIXED and observable in outputs (reference
`process_to_curated.py:245-260`, SURVEY.md §7.4): outer-merge -> mean-impute
(in RAW units, before conversion) -> unit ffill/bfill + convert -> horizontal
total -> lag diff -> lag pct-change. The lag features use per-site
time-ordered windows — the reference's *intended* semantics; its positional
shift over an unspecified global order (and the np.roll wrap-around bug in
the faster variant, W3) are documented divergences, not behaviors to keep.

Shuffle budget: N-1 join shuffles for the merge (the single-shuffle
union+regroup alternative, operators.merge.outer_merge_pivot, trades those
for a very wide hash aggregation — measured slower at N=5, better for
large N / network-bound clusters), one aggregate pass for the means (tiny
result to the driver), and ONE window hash-exchange on code_site shared by
ffill/bfill/lag/pct. The forward spec (ffill/lag/pct) and the reversed
bfill spec share that exchange but sort separately — the reversed-order
rewrite (round 6) trades a second in-partition sort for killing the
per-row partition-tail rescan of the unbounded-following frame (108 s ->
11.7 s at the decade scale). Gold is written partitioned-free
(single wide table, like the reference's one `curated` table) but sorted by
(code_site, date_de_debut) for scan locality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from functools import reduce

from datalakes_and_data_integration_spark.operators import (
    drop_columns,
    fill_with_means,
    full_outer_merge,
    horizontal_sum,
    lag_diff,
    lag_pct_change,
    mean_exprs,
    prefix_columns,
    unit_factor,
)
from datalakes_and_data_integration_spark.operators.windows import (
    ffill,
    ordered_window,
)
from datalakes_and_data_integration_spark.sources.catalog import (
    CODE_TO_TABLE,
    UNIT_FACTORS,
    list_tables,
)
from datalakes_and_data_integration_spark.sources.sinks import write_partitioned

KEYS = ["code_site", "date_de_debut"]
TOTAL = "total_valeur_particule_g_par_L"


def build_gold(
    spark: SparkSession, silver_dir: str, gold_dir: str
) -> DataFrame:
    tables = list_tables(silver_dir)  # pollutant_code=XX partition dirs
    frames = []
    for t in tables:
        code = t.split("=", 1)[1] if "=" in t else t
        # staging tables are named by normalized short name, not raw-zone
        # code (preprocess_to_staging.py:155): 01 -> so2
        name = CODE_TO_TABLE.get(code, code)
        df = spark.read.parquet(f"{silver_dir}/{t}")
        # P5: drop date_de_fin/polluant before merge (process_to_curated.py:167)
        df = drop_columns(df, ["date_de_fin", "polluant"])
        # P6: prefix every non-key column (process_to_curated.py:170-171)
        frames.append(prefix_columns(df, name, KEYS))

    # J1: N-way full outer merge (process_to_curated.py:176-186). Join-fold
    # form: measured 2.5x faster than the single-shuffle union+regroup
    # (outer_merge_pivot) at N=5 — the 130-aggregate hash map costs more CPU
    # than the extra shuffles at this width. Switch to outer_merge_pivot for
    # large N or network-bound clusters (it moves ~1x the wide table instead
    # of the ~3x a widening join chain re-shuffles).
    wide = full_outer_merge(frames, KEYS)

    # A3/F6: mean-impute numeric columns IN RAW UNITS, before conversion —
    # the reference's observable ordering (process_to_curated.py:245-251).
    # The means are computed on the NARROW per-pollutant frames, not the
    # merged table: silver keys are unique per table (A2 first-writer
    # dedup), so the full-outer merge preserves each table's rows exactly
    # once and the merge's padding nulls are invisible to sum/count —
    # per-table means equal merged-frame means EXACTLY (same decimal-sum
    # formula). This halves gold's heavy work: the reference (and a naive
    # port) evaluates the merged frame once for the means and again for
    # the output; here the N-way join chain executes exactly once, in the
    # write pass (measured on the reference corpus: warm 3.8 -> 3.3 s,
    # cold ~5.4 s vs 6.0 s for the persist-the-merge variant; identical
    # 29,304x83 output). At 100 TB the win scales with the join chain:
    # the means pass touches only the narrow pre-merge tables.
    value_suffixes = ("_valeur", "_valeur_brute", "_taux_de_saisie")
    mean_aggs = [
        f.agg(
            *mean_exprs(
                [c for c in f.columns if c.endswith(value_suffixes)]
            )
        )
        for f in frames
        if any(c.endswith(value_suffixes) for c in f.columns)
    ]
    # Degenerate silver (no value-suffix column anywhere): nothing to
    # impute — reduce() over an empty sequence would raise TypeError.
    if mean_aggs:
        # scale-ok: 1-row-per-side global-agg fan-in, N tiny frames
        means_df = reduce(lambda a, b: a.crossJoin(b), mean_aggs)
        means = means_df.collect()[0].asDict()  # scale-ok: 1-row globals
        wide = fill_with_means(wide, means)

    # W4: fill unit columns per site along time, then F4/F5 convert.
    # Null timestamps (unparseable dates, P2) sort LAST so they never shift
    # the lag index of real time-ordered rows.
    # NOTE (measured, round 4): keep these as STAGED selects. Fusing
    # fill+convert+total into one projection looks like it saves analysis
    # and codegen rounds, but each downstream column then re-evaluates the
    # upstream EXPRESSIONS instead of reusing materialized columns (TOTAL
    # alone re-computes all 12 conversion CASE chains) — measured 2x gold
    # wall-clock (5.5 -> 10.3 s cold, 3.9 -> 7.5 s warm on the reference
    # corpus). Chained projections are the cheap form here.
    # Silver's key is unique (a NULL-safe MERGE) and the outer merge is
    # NULL-safe, so (code_site, date_de_debut) is unique here: the window
    # order below is total, and the forward and reversed specs walk the
    # same rows in opposite directions.
    w = ordered_window(["code_site"], [F.col("date_de_debut").asc_nulls_last()])
    # backward fill: ffill over the exact reverse spec (see ffill)
    w_rev = ordered_window(
        ["code_site"], [F.col("date_de_debut").desc_nulls_first()]
    )
    unit_cols = [c for c in wide.columns if c.endswith("_unite_de_mesure")]
    filled_units = {
        c: F.coalesce(ffill(c, w), ffill(c, w_rev)).alias(c) for c in unit_cols
    }
    wide = wide.select(
        *[filled_units.get(c, F.col(c)) for c in wide.columns]
    )
    converted_cols = []
    conversions = []
    for c in unit_cols:
        prefix = c[: -len("_unite_de_mesure")]
        factor = unit_factor(c, UNIT_FACTORS)
        for vc in (f"{prefix}_valeur", f"{prefix}_valeur_brute"):
            if vc in wide.columns:
                out = f"{vc}_g_par_L"
                conversions.append((F.col(vc) * factor).alias(out))
                converted_cols.append(out)
    wide = wide.select("*", *conversions)

    # A4: horizontal NaN-skipping total over the converted column group
    # (process_to_curated.py:71-95).
    wide = wide.withColumn(TOTAL, horizontal_sum(converted_cols))

    # W1/W2: per-site 6-step lag features over `_valeur` columns + total —
    # note `_valeur` only, not `_valeur_brute`/`_g_par_L` (the suffix filter
    # at process_to_curated.py:116,142 — SURVEY.md §1.3). One select, not a
    # withColumn chain: 2N chained projections cost O(N^2) analysis time.
    lag_targets = [c for c in wide.columns if c.endswith("_valeur")] + [TOTAL]
    wide = wide.select(
        "*",
        *[lag_diff(c, w, 6).alias(f"{c}_diff_6hrs") for c in lag_targets],
        *[
            lag_pct_change(c, w, 6).alias(f"{c}_percent_change_6hrs")
            for c in lag_targets
        ],
    )

    # Clustering sort matches the window stage's order INCLUDING the null
    # direction (asc_nulls_last) so RemoveRedundantSorts elides the
    # SortExec — the rows leave the lag window in (code_site, date) order.
    write_partitioned(
        wide,
        gold_dir,
        sort_within=[
            F.col("code_site").asc(),  # window partition key: nulls_first
            F.col("date_de_debut").asc_nulls_last(),
        ],
    )
    return spark.read.parquet(gold_dir)


def run_pipeline(
    spark: SparkSession, landing_dir: str, work_dir: str
) -> DataFrame:
    """Full bronze -> silver -> gold run (the reference DAG's three tasks,
    dags/datalake_pipeline.py:54: unpack >> preprocess >> process). On a
    work dir that already holds silver, silver MERGEs the new keys in;
    gold is always rebuilt in full."""
    from datalakes_and_data_integration_spark.pipeline.bronze import build_bronze
    from datalakes_and_data_integration_spark.pipeline.silver import build_silver

    build_bronze(spark, landing_dir, f"{work_dir}/bronze")
    build_silver(spark, f"{work_dir}/bronze", f"{work_dir}/silver")
    return build_gold(spark, f"{work_dir}/silver", f"{work_dir}/gold")
