"""Bounded scratch space: a streaming query's checkpoint and a maintenance
query's rollup generations live in one per-call-site dir under the temp
root (``plans._util.state_tmp``), so re-running them does not add dirs."""

from __future__ import annotations

import os
import tempfile

import duckdb


def _mk_events(sf_dir: str) -> str:
    """A few events across the rollup's history and increment days."""
    os.makedirs(sf_dir)
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
          SELECT i::BIGINT AS event_id,
                 TIMESTAMP '2024-01-20' + INTERVAL (i * 7) HOUR AS ts,
                 (i % 3)::BIGINT AS user_id,
                 CASE WHEN i % 2 = 0 THEN 'click' ELSE 'view' END
                   AS event_type,
                 (i * 1.5)::DOUBLE AS value,
                 '' AS props
          FROM range(40) t(i)
        ) TO '{sf_dir}/events.parquet' (FORMAT PARQUET)
        """
    )
    con.close()
    return sf_dir


def _n_dirs(root: str) -> int:
    return sum(len(dirs) for _, dirs, _ in os.walk(root))


def test_reruns_do_not_grow_scratch(spark, tmp_path, monkeypatch):
    from datalakes_and_data_integration_spark.plans.maintenance import (
        continuous_aggregate_daily,
    )
    from datalakes_and_data_integration_spark.streaming.file_stream import (
        events_stream,
        hourly_agg_stream,
        run_available_now,
    )

    sf = _mk_events(str(tmp_path / "sf"))
    scratch = tmp_path / "scratch"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))

    def one_round():
        agg = hourly_agg_stream(events_stream(spark, sf))
        assert run_available_now(agg, spark, name="scratch_probe").count() > 0
        assert continuous_aggregate_daily(spark, sf).count() > 0
        return _n_dirs(str(scratch))

    first = one_round()
    assert first > 0  # the scratch root is really the one in use
    assert one_round() == first
