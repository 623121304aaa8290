"""Airflow-facing orchestration (the production deployment shape).

The reference runs its pipelines as Airflow DAGs with
``create_table >> fetch`` dependencies, @daily schedule, catchup off,
1 retry / 5 min (``/root/reference/dags/fetch_jira_tempo_worklogs.py:15-26,97-114``).
The engine keeps that layer: Airflow schedules, the cluster computes —
each DAG task becomes a ``spark-submit`` of an engine entry point
(the BASELINE "Airflow orchestrates Spark jobs for ETL" approach).

Airflow is not installed in this environment, so the DAG definitions
are DECLARATIVE SPECS (plain data, fully testable); ``build_airflow_dags``
materializes real DAG objects only when airflow imports.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class TaskSpec:
    task_id: str
    entry_point: str  # importable module whose FILE spark-submit runs
    args: tuple[str, ...] = ()
    upstream: tuple[str, ...] = ()


@dataclass(frozen=True)
class DagSpec:
    dag_id: str
    schedule: str
    catchup: bool
    retries: int
    retry_delay_minutes: int
    # the reference's default_args start_date (fetch_jira_tempo_worklogs
    # .py:20); a scheduled Airflow DAG WITHOUT one either errors at
    # operator instantiation or is never scheduled
    start_date_iso: str = "2025-01-01"
    tasks: tuple[TaskSpec, ...] = field(default_factory=tuple)


def _entity_dag(entity: str, unique_column: str) -> DagSpec:
    """One DAG per entity, mirroring the reference's three DAG files
    and their defaults (@daily, catchup=False, 1 retry / 5 min)."""
    return DagSpec(
        dag_id=f"fetch_jira_{entity}",
        schedule="@daily",
        catchup=False,
        retries=1,
        retry_delay_minutes=5,
        tasks=(
            TaskSpec(
                task_id="ensure_table",
                entry_point="airflow_jira_etl_spark.pipeline",
                # --unique-column on BOTH tasks: they are separate
                # spark-submit jobs, and the table's key contract must
                # not depend on which one ran
                args=(
                    f"--entity={entity}",
                    "--task=ensure_table",
                    f"--unique-column={unique_column}",
                ),
            ),
            TaskSpec(
                # merge_upsert is each pipeline's terminal task; --task
                # runs the chain up to it (ingest, then merge), mirroring
                # the reference's create_table >> fetch_and_save split
                task_id="ingest_and_merge",
                entry_point="airflow_jira_etl_spark.pipeline",
                args=(
                    f"--entity={entity}",
                    "--task=merge_upsert",
                    f"--unique-column={unique_column}",
                ),
                upstream=("ensure_table",),
            ),
        ),
    )


def entry_point_file(entry_point: str) -> str:
    """Resolve an importable module name to the absolute source file
    ``spark-submit`` expects as its application argument."""
    import importlib.util

    spec = importlib.util.find_spec(entry_point)
    if spec is None or spec.origin is None:
        raise ValueError(f"cannot resolve entry point {entry_point!r} to a file")
    return spec.origin


def build_dag_specs() -> list[DagSpec]:
    return [
        _entity_dag("tempo_worklogs", "tempo_worklog_id"),
        _entity_dag("issues", "issue_id"),
        _entity_dag("users", "account_id"),
    ]


def build_airflow_dags():  # pragma: no cover - needs airflow installed
    """Materialize the specs as real Airflow DAGs (SparkSubmitOperator
    per task). Import-gated: returns [] when airflow is absent."""
    try:
        from datetime import datetime, timedelta

        from airflow import DAG
        from airflow.providers.apache.spark.operators.spark_submit import (
            SparkSubmitOperator,
        )
    except ImportError:
        return []

    dags = []
    for spec in build_dag_specs():
        dag = DAG(
            dag_id=spec.dag_id,
            schedule=spec.schedule,
            catchup=spec.catchup,
            default_args={
                "retries": spec.retries,
                "retry_delay": timedelta(minutes=spec.retry_delay_minutes),
                "start_date": datetime.fromisoformat(spec.start_date_iso),
            },
        )
        ops = {}
        for t in spec.tasks:
            ops[t.task_id] = SparkSubmitOperator(
                task_id=t.task_id,
                # spark-submit takes a FILE; resolve the module to its
                # source path (the package ships with the job)
                application=entry_point_file(t.entry_point),
                application_args=list(t.args),
                dag=dag,
            )
        for t in spec.tasks:
            for up in t.upstream:
                ops[up] >> ops[t.task_id]
        dags.append(dag)
    return dags
