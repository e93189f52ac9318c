"""Round-9 optimization round: internals changed for speed must stay
bit-identical to the forms the oracles pin.

The Spark logit moved from 64 inlined weight literals per model
(unique codegen source per GD iteration -> a Janino compile per
iteration per run) to higher-order folds over ONE weight array literal
(_hof_z), now the one logit form of the trainer and of every scoring
pass. The oracle gate proves end-to-end equality; this test pins the
sharper claim the rewrite rests on: the HOF fold is BIT-identical to
the _assoc_chain tree per row, so any future drift in chunking or
seeding fails fast with a named culprit.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datalakes_and_data_integration_spark.plans import ml
from datalakes_and_data_integration_spark.plans._util import T

SF = "/root/testdata/sf0.001"


def test_hof_z_bitwise_equals_assoc_chain(spark):
    w = [
        [((f * 131 + j * 17) % 97) * 0.0137 - 0.61 for j in range(ml._DIM)]
        for f in range(3)
    ]
    b = [0.23 * f - 0.4 for f in range(3)]
    e = T(spark, SF, "embeddings")
    withz = e.selectExpr(
        "vec_id",
        "embedding",
        *[f"{ml._hof_terms(ml._warr_sql(w[f]))} AS t{f}" for f in range(3)],
    ).selectExpr(
        "vec_id",
        *[
            f"({ml._assoc_chain(f'{b[f]!r}D', [f'{w[f][j]!r}D * CAST(embedding[{j}] AS DOUBLE)' for j in range(ml._DIM)])}) AS zlit{f}"
            for f in range(3)
        ],
        *[f"{ml._hof_z(f't{f}', f'{b[f]!r}D')} AS zhof{f}" for f in range(3)],
    )
    # bit-level: compare both the double values (IS DISTINCT FROM keeps
    # NaN) and their string renderings (catches -0.0 vs 0.0).
    cond = " OR ".join(
        f"(zlit{f} IS DISTINCT FROM zhof{f})"
        f" OR (CAST(zlit{f} AS STRING) IS DISTINCT FROM"
        f" CAST(zhof{f} AS STRING))"
        for f in range(3)
    )
    assert withz.filter(F.expr(cond)).count() == 0
    assert withz.count() > 0


def test_kfold_counts_match_groupby(spark):
    """The trainer's per-head row count rides its first exploded
    aggregate (the posexplode_outer rows at dim 0 or at the NULL dim of
    a NULL or empty embedding); it must equal groupBy(fold).count()
    exactly, such embeddings included, as every oracle counts them."""
    e = (
        T(spark, SF, "embeddings")
        .unionByName(
            spark.createDataFrame(
                [(-1, None, 0), (-2, [], 1)],
                "vec_id long, embedding array<float>, label int",
            )
        )
        .selectExpr("*", f"{ml._fold_sql_spark()} AS fold")
    )
    direct = {
        r["fold"]: r["cnt"]
        for r in e.groupBy("fold").agg(F.count("*").alias("cnt")).collect()
    }
    _, n = ml._gd(
        e,
        [(f"label = {ml._POS_LABEL}", f"fold = {f}") for f in range(ml._FOLDS)],
    )
    assert n == [direct.get(f, 0) for f in range(ml._FOLDS)]
