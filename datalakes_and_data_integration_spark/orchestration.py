"""Airflow-compatible orchestration — the reference's DAG shape
(`/root/reference/dags/datalake_pipeline.py:54`:
``unpack >> preprocess >> process``, ``@daily``, catchup off, 1 retry /
5 min) re-expressed over this engine's stage callables.

Airflow is not installed in this container, so ``build_dag`` is
import-gated: it returns None without airflow and a real DAG with it. The
three task callables are plain functions over the pipeline modules,
reached through ``build_dag`` or called directly by an external scheduler
(cron, CI, Dagster, ...). The CLI's ``run-pipeline`` calls none of them:
it runs ``pipeline.gold.run_pipeline`` (bronze -> silver -> gold) over an
already-filled landing zone, without the fetch step.

The reference has TWO dags (regular + "faster" scripts); here there is one
— Spark's engine IS the faster variant (SURVEY.md §2.10), so the split
collapses.
"""

from __future__ import annotations

from typing import Any


def task_unpack(base_url: str, api_key: str | None, landing_dir: str,
                n_days: int = 3) -> list[str]:
    """Task 1 — fetch the last-N-days window into the landing zone
    (reference unpacked_to_raw)."""
    from datalakes_and_data_integration_spark.sources.catalog import (
        ACTIVE_POLLUTANTS,
    )
    from datalakes_and_data_integration_spark.sources.remote_fetch import (
        fetch_window_to_landing,
    )

    return fetch_window_to_landing(
        base_url, api_key, landing_dir,
        [p["code"] for p in ACTIVE_POLLUTANTS], n_days=n_days,
    )


def task_preprocess(landing_dir: str, work_dir: str) -> None:
    """Task 2 — bronze + silver (reference preprocess_to_staging)."""
    from datalakes_and_data_integration_spark.pipeline.bronze import (
        build_bronze,
    )
    from datalakes_and_data_integration_spark.pipeline.silver import (
        build_silver,
    )
    from datalakes_and_data_integration_spark.session import get_spark

    spark = get_spark("pipeline.preprocess")
    build_bronze(spark, landing_dir, f"{work_dir}/bronze")
    build_silver(spark, f"{work_dir}/bronze", f"{work_dir}/silver")


def task_process(work_dir: str) -> None:
    """Task 3 — gold (reference process_to_curated)."""
    from datalakes_and_data_integration_spark.pipeline.gold import build_gold
    from datalakes_and_data_integration_spark.session import get_spark

    spark = get_spark("pipeline.process")
    build_gold(spark, f"{work_dir}/silver", f"{work_dir}/gold")


def build_dag(
    landing_dir: str,
    work_dir: str,
    base_url: str | None = None,
    api_key: str | None = None,
) -> Any | None:
    """Return an Airflow DAG with the reference's schedule and retry policy
    (``@daily``, catchup off, 1 retry / 5 min —
    dags/datalake_pipeline.py:11-12,20-21), or None if airflow is absent."""
    try:
        from datetime import timedelta

        from airflow import DAG
        from airflow.operators.python import PythonOperator
    except ImportError:
        return None

    dag = DAG(
        "datalake_pipeline",
        schedule="@daily",
        catchup=False,
        default_args={"retries": 1, "retry_delay": timedelta(minutes=5)},
    )
    with dag:
        unpack = PythonOperator(
            task_id="unpacked_to_raw",
            python_callable=task_unpack,
            op_args=[base_url, api_key, landing_dir],
        )
        preprocess = PythonOperator(
            task_id="preprocess_to_staging",
            python_callable=task_preprocess,
            op_args=[landing_dir, work_dir],
        )
        process = PythonOperator(
            task_id="process_to_curated",
            python_callable=task_process,
            op_args=[work_dir],
        )
        unpack >> preprocess >> process
    return dag
