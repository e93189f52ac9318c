"""The one Spark HLL register builder, ``plans.sketches.hll_regs``, that
``distinct_count_hll``, ``hll_set_algebra``, ``rolling_distinct_hll_7d``
and the maintained sketch state all build on: its registers equal a
plain-Python fold of the same hash, and its grouped, ungrouped and
duplicated-input forms agree the way register files must for the
per-register ``max`` merge to hold."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datalakes_and_data_integration_spark.functions.hashing import hash60_py
from datalakes_and_data_integration_spark.plans.sketches import (
    _HLL_M,
    _HLL_VBITS,
    _rho_case,
    hll_regs,
)

# 300 users over two groups, some users in both: enough to fill most of
# the 64 registers, with collisions inside a register.
_ROWS = [("a" if u % 3 else "b", u) for u in range(300)] + [
    ("b", u) for u in range(0, 300, 7)
]


@pytest.fixture(scope="module")
def events(spark):
    return spark.createDataFrame(_ROWS, "grp string, user_id bigint")


def _regs(df, *groups) -> dict:
    return {tuple(r[:-1]): r.mrho for r in hll_regs(df, *groups).collect()}


def _py_regs(rows) -> dict:
    """(grp, reg) -> max rank, folded in Python from ``hash60_py``."""
    out: dict = {}
    for grp, user in rows:
        h = hash60_py(str(user), seed=7)
        val = (h // _HLL_M) % (1 << _HLL_VBITS)
        key = (grp, h % _HLL_M)
        out[key] = max(out.get(key, 0), _HLL_VBITS + 1 - val.bit_length())
    return out


def test_registers_equal_a_python_fold_of_the_hash(events):
    assert _regs(events, "grp") == _py_regs(_ROWS)


def test_rank_is_leading_zeros_plus_one(spark):
    """``_rho_case`` at its edges: the top value bit ranks 1, the lowest
    ranks 54, and an all-zero value ranks 55."""
    vals = [0, 1, 2, 3, (1 << 53) - 1, 1 << 53, (1 << 54) - 1]
    got = (
        spark.createDataFrame([(v,) for v in vals], "v bigint")
        .select("v", F.expr(_rho_case("v")).alias("rho"))
        .collect()
    )
    assert {r.v: r.rho for r in got} == {
        v: _HLL_VBITS + 1 - v.bit_length() for v in vals
    }


def test_grouped_build_equals_per_group_builds(events):
    grouped = _regs(events, "grp")
    for g in ("a", "b"):
        alone = _regs(events.filter(F.col("grp") == g))
        assert alone == {
            (reg,): m for (grp, reg), m in grouped.items() if grp == g
        }


def test_ungrouped_build_is_the_register_max_of_the_groups(events):
    """One sketch over all rows equals the per-register max over the
    groups' sketches: the merge rule every register consumer relies on."""
    merged: dict = {}
    for (_, reg), m in _regs(events, "grp").items():
        merged[(reg,)] = max(merged.get((reg,), 0), m)
    assert _regs(events) == merged


def test_duplicate_rows_leave_the_registers_unchanged(events):
    assert _regs(events.union(events), "grp") == _regs(events, "grp")


def test_empty_frame_builds_no_registers(events):
    empty = hll_regs(events.limit(0), "grp")
    assert empty.columns == ["grp", "reg", "mrho"]
    assert empty.count() == 0
