"""The decade-ladder probes are the repo's scale-evidence instruments
(BASELINE.md's family tables are their output). Keep them importable
and keep the shared runner's timing contract alive so the next probe
run can't silently rot: run_one must execute the plan through the noop
sink (full per-row work, nothing pruned) and return a positive wall
time plus the untimed row count."""

from __future__ import annotations

import importlib
import os
import sys

import pytest

_TOOLS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
)

SF_TINY = "/root/testdata/sf0.001"


@pytest.fixture(scope="module", autouse=True)
def _tools_on_path():
    sys.path.insert(0, _TOOLS)
    yield
    sys.path.remove(_TOOLS)


def test_probe_modules_import_and_share_the_runner():
    common = importlib.import_module("_ladder_common")
    for mod in (
        "dedup_ladder_probe",
        "events_ladder_probe",
        "relational_ladder_probe",
        "ml_ladder_probe",
        "streaming_ladder_probe",
    ):
        m = importlib.import_module(mod)
        assert m.LADDER, mod
        # No probe re-declares the runner: the one timing protocol
        # lives in _ladder_common (the round-6 consolidation).
        assert not hasattr(m, "run_one"), mod
    assert callable(common.run_one)
    assert callable(common.probe_main)


def test_run_one_times_noop_and_counts_rows(spark):
    from _ladder_common import run_one

    t, rows = run_one(spark, "dedup_exact", SF_TINY, runs=1)
    assert t > 0
    assert rows > 0


def test_probe_ladders_name_registered_queries():
    from datalakes_and_data_integration_spark.plans import QUERIES

    for mod in (
        "dedup_ladder_probe",
        "events_ladder_probe",
        "relational_ladder_probe",
        "ml_ladder_probe",
        "streaming_ladder_probe",
    ):
        m = importlib.import_module(mod)
        missing = [n for n in m.LADDER if n not in QUERIES]
        assert not missing, f"{mod}: unregistered ladder names {missing}"


def test_result_line_carries_cores_and_window_stamp():
    """Every probe's JSON line says at what core count and in what window
    its numbers were taken, by the same rule as bench.py's summary."""
    import bench
    from _ladder_common import result_line

    healthy = result_line("m", {"q": {"sec": 1.0}}, 4, bench._CALIB_PAR_REF)
    assert healthy["cpus"] == 4
    assert healthy["calib_par_ratio"] == 1.0
    assert healthy["throttled_window"] is False
    assert healthy["results"] == {"q": {"sec": 1.0}}

    slow = 2 * bench._CALIB_PAR_REF
    throttled = result_line("m", {}, 4, slow)
    assert throttled["calib_par_ratio"] == 2.0
    assert throttled["throttled_window"] is True
    _, summary = bench.build_outputs({}, {}, 0.1, 0.5, slow)
    for key in ("calib_par_ratio", "throttled_window"):
        assert summary[key] == throttled[key]

    assert result_line("m", {}, 4, -1.0)["calib_par_ratio"] == -1.0


def test_window_stamp_throttles_strictly_above_one_and_a_half():
    """The throttle rule on the ratio as reported (rounded to 2 places):
    1.5 is still a healthy window, 1.51 is a throttled one; an anchor
    that could not run reports -1.0 and is not called throttled."""
    import bench

    ref = bench._CALIB_PAR_REF
    assert bench.window_stamp(1.5 * ref) == {
        "calib_par_ratio": 1.5, "throttled_window": False
    }
    assert bench.window_stamp(1.51 * ref) == {
        "calib_par_ratio": 1.51, "throttled_window": True
    }
    assert bench.window_stamp(0.0) == {
        "calib_par_ratio": -1.0, "throttled_window": False
    }
