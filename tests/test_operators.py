"""Operator unit tests on tiny inline frames (SURVEY.md §5 rebuild strategy,
tier 1). Each test pins a behavior the reference makes observable."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from datalakes_and_data_integration_spark.operators import (
    dedup_keep_first,
    ffill,
    full_outer_merge,
    horizontal_sum,
    impute_mean,
    lag_diff,
    lag_pct_change,
    normalize_column_name,
    prefix_columns,
    unit_factor,
)
from datalakes_and_data_integration_spark.operators.windows import ordered_window


class TestNormalize:
    # Reference: preprocess_to_staging.py:13-32 — French headers and table
    # names (SURVEY.md §1.3).
    def test_french_headers(self):
        assert normalize_column_name("Date de début") == "date_de_debut"
        assert normalize_column_name("type d'implantation") == "type_d_implantation"
        assert normalize_column_name("Réglementaire") == "reglementaire"
        assert normalize_column_name("unité de mesure") == "unite_de_mesure"
        assert normalize_column_name("Valeur") == "valeur"

    def test_bom_and_digits(self):
        assert normalize_column_name("﻿Date de début") == "date_de_debut"
        assert normalize_column_name("PM2.5") == "pm2_5"
        assert normalize_column_name("2theta") == "_2theta"

    def test_edge_punctuation_matches_reference(self):
        # The reference does NOT strip leading/trailing underscores
        # (preprocess_to_staging.py:26 has no .strip("_")) — byte-identical
        # parity pinned here (VERDICT r1 "What's wrong #7").
        assert normalize_column_name("pm2.5!") == "pm2_5_"
        assert normalize_column_name("--x--") == "_x_"
        assert normalize_column_name("!2x") == "_2x"


class TestDedup:
    def test_keep_first_is_deterministic(self, spark):
        rows = [("a", 2, "second"), ("a", 1, "first"), ("b", 5, "only")]
        df = spark.createDataFrame(rows, ["k", "seq", "payload"])
        out = dedup_keep_first(df, ["k"], [F.col("seq")]).collect()
        got = {r.k: r.payload for r in out}
        assert got == {"a": "first", "b": "only"}


class TestMerge:
    def test_prefix_and_outer_merge(self, spark):
        a = prefix_columns(
            spark.createDataFrame([(1, 10.0)], ["k", "v"]), "so2", ["k"]
        )
        b = prefix_columns(
            spark.createDataFrame([(2, 20.0)], ["k", "v"]), "no2", ["k"]
        )
        out = full_outer_merge([a, b], ["k"]).orderBy("k").collect()
        assert [r.k for r in out] == [1, 2]
        assert out[0].so2_v == 10.0 and out[0].no2_v is None
        assert out[1].so2_v is None and out[1].no2_v == 20.0


class TestImpute:
    def test_mean_fill(self, spark):
        df = spark.createDataFrame(
            [(1, 10.0), (2, None), (3, 20.0)], ["id", "v"]
        )
        out = {r.id: r.v for r in impute_mean(df, ["v"]).collect()}
        assert out[2] == 15.0
        assert out[1] == 10.0 and out[3] == 20.0


class TestConvert:
    # Reference F4: unmapped unit -> null (process_to_curated.py:35-39).
    def test_unmapped_factor_nulls(self, spark):
        df = spark.createDataFrame(
            [(1.0, "mg-m3"), (2.0, "µg/m3")], ["v", "unit"]
        )
        factor = unit_factor("unit", {"mg-m3": 1e-3})
        out = df.select("unit", (F.col("v") * factor).alias("g")).collect()
        got = {r.unit: r.g for r in out}
        assert got["mg-m3"] == 1e-3
        assert got["µg/m3"] is None

    # Reference A4: NaN-skipping horizontal sum, all-null -> null
    # (faster_process_to_curated.py:77-80 guard).
    def test_horizontal_sum(self, spark):
        df = spark.createDataFrame(
            [(1.0, 2.0), (None, 3.0), (None, None)], ["a", "b"]
        )
        out = [r.t for r in df.select(horizontal_sum(["a", "b"]).alias("t")).collect()]
        assert out == [3.0, 3.0, None]

    def test_horizontal_sum_empty_cols(self, spark):
        df = spark.createDataFrame([(1.0,)], ["a"])
        out = df.select(horizontal_sum([]).alias("t")).collect()
        assert out[0].t is None


class TestWindows:
    def _ts(self, h):
        return dt.datetime(2024, 1, 1, h)

    def test_lag_diff_backfill_zero(self, spark):
        # Reference W1: first-n rows diff against themselves -> 0
        # (process_to_curated.py:123-129).
        rows = [("s", self._ts(h), float(10 * (h + 1))) for h in range(9)]
        df = spark.createDataFrame(rows, ["site", "ts", "v"])
        w = ordered_window(["site"], [F.col("ts")])
        out = (
            df.select("ts", lag_diff("v", w, 6).alias("d")).orderBy("ts").collect()
        )
        assert [r.d for r in out[:6]] == [0.0] * 6
        assert [r.d for r in out[6:]] == [60.0, 60.0, 60.0]

    def test_lag_pct_change_leading_null(self, spark):
        # Reference W2: no fillna — leading rows null
        # (process_to_curated.py:148-152).
        rows = [("s", self._ts(h), float(10 * (h + 1))) for h in range(8)]
        df = spark.createDataFrame(rows, ["site", "ts", "v"])
        w = ordered_window(["site"], [F.col("ts")])
        out = (
            df.select("ts", lag_pct_change("v", w, 6).alias("p"))
            .orderBy("ts")
            .collect()
        )
        assert all(r.p is None for r in out[:6])
        assert out[6].p == 600.0  # (70-10)/10*100

    def test_ffill_bfill(self, spark):
        rows = [
            ("s", self._ts(0), None),
            ("s", self._ts(1), 1.0),
            ("s", self._ts(2), None),
            ("s", self._ts(3), 3.0),
            ("s", self._ts(4), None),
        ]
        df = spark.createDataFrame(rows, ["site", "ts", "v"])
        w = ordered_window(["site"], [F.col("ts")])
        # backward fill is ffill over the REVERSED spec (a running
        # accumulator over the reverse order; see operators/windows.py).
        w_rev = ordered_window(["site"], [F.col("ts").desc()])
        out = (
            df.select(
                "ts",
                ffill("v", w).alias("f"),
                ffill("v", w_rev).alias("b"),
            )
            .orderBy("ts")
            .collect()
        )
        assert [r.f for r in out] == [None, 1.0, 1.0, 3.0, 3.0]
        assert [r.b for r in out] == [1.0, 1.0, 3.0, 3.0, None]


def test_outer_merge_pivot_equals_join_fold(spark):
    from datalakes_and_data_integration_spark.operators.merge import (
        full_outer_merge,
        outer_merge_pivot,
    )

    a = spark.createDataFrame(
        [("s1", 1, 10.0), ("s1", 2, 20.0), ("s2", 1, 30.0)],
        ["site", "t", "a_v"],
    )
    b = spark.createDataFrame(
        [("s1", 1, "x"), ("s3", 9, "y")], ["site", "t", "b_v"]
    )
    c = spark.createDataFrame([("s2", 1, 7)], ["site", "t", "c_v"])
    keys = ["site", "t"]
    fold = full_outer_merge([a, b, c], keys)
    pivot = outer_merge_pivot([a, b, c], keys).select(*fold.columns)
    rows_f = sorted(map(tuple, fold.collect()))
    rows_p = sorted(map(tuple, pivot.collect()))
    assert rows_f == rows_p and len(rows_f) == 4


def test_salted_join_matches_plain_join(spark):
    from datalakes_and_data_integration_spark.operators.skew import salted_join

    # heavily skewed fact: 900 rows of one key, a few of others
    fact = spark.createDataFrame(
        [("hot", i) for i in range(900)] + [("cold", i) for i in range(5)],
        ["k", "v"],
    )
    dim = spark.createDataFrame(
        [("hot", "H"), ("cold", "C"), ("unused", "U")], ["k", "label"]
    )
    out = salted_join(fact, dim, on="k", salt_count=4)
    plain = fact.join(dim, "k")
    assert out.count() == plain.count() == 905
    got = sorted((r.k, r.v, r.label) for r in out.collect())
    want = sorted((r.k, r.v, r.label) for r in plain.collect())
    assert got == want


def test_full_outer_merge_null_keys_match(spark):
    """Pandas merge matches NaN keys (reference J1); the null-safe join must
    merge null-key rows across frames instead of emitting one per side."""
    from datalakes_and_data_integration_spark.operators.merge import (
        full_outer_merge,
        outer_merge_pivot,
    )

    a = spark.createDataFrame(
        [("s1", None, 1.0), ("s1", "t1", 2.0)], ["site", "t", "a_v"]
    )
    b = spark.createDataFrame(
        [("s1", None, "x"), ("s2", "t2", "y")], ["site", "t", "b_v"]
    )
    keys = ["site", "t"]
    fold = full_outer_merge([a, b], keys)
    rows = sorted(map(tuple, fold.collect()), key=repr)
    # 3 rows: the null-t rows MERGED, plus the two unmatched.
    assert len(rows) == 3
    merged = [r for r in rows if r[1] is None][0]
    assert merged == ("s1", None, 1.0, "x")
    # pivot form agrees (GROUP BY already groups nulls)
    pivot = sorted(
        map(tuple, outer_merge_pivot([a, b], keys).select(*fold.columns).collect()),
        key=repr,
    )
    assert pivot == rows
