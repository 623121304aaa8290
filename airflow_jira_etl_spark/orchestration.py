"""Airflow-facing orchestration (the production deployment shape).

The reference runs its pipelines as Airflow DAGs with @daily schedule,
catchup off, 1 retry / 5 min
(``/root/reference/dags/fetch_jira_tempo_worklogs.py:15-26,97-114``).
The engine keeps that layer: Airflow schedules, the cluster computes —
each DAG is ONE task, a ``spark-submit`` of ``pipeline.main`` for its
entity (the BASELINE "Airflow orchestrates Spark jobs for ETL"
approach). The reference's ``create_table >> fetch`` edge is gone: a
SQL table must exist before its INSERTs, but the engine's sink creates
its table at the first commit, and ``Pipeline.run`` opens, ingests and
merges in one process — a separate create task would only start a
second JVM to make a directory.

Airflow is not installed in this environment, so the DAG definitions
are DECLARATIVE SPECS (plain data, fully testable; importing this
module loads no Spark); ``build_airflow_dags`` materializes real DAG
objects only when airflow imports.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class TaskSpec:
    task_id: str
    entry_point: str  # importable module whose FILE spark-submit runs
    args: tuple[str, ...] = ()


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


def _entity_dag(entity: str) -> DagSpec:
    """One DAG per entity, mirroring the reference's three DAG files
    and their defaults (@daily, catchup=False, 1 retry / 5 min). Its
    one task runs the whole pipeline; the upsert key is the entity
    builder's default, so no copy of it lives here."""
    return DagSpec(
        dag_id=f"fetch_jira_{entity}",
        schedule="@daily",
        catchup=False,
        retries=1,
        retry_delay_minutes=5,
        tasks=(
            TaskSpec(
                task_id="ingest_and_merge",
                entry_point="airflow_jira_etl_spark.pipeline",
                args=(f"--entity={entity}",),
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
        _entity_dag("tempo_worklogs"),
        _entity_dag("issues"),
        _entity_dag("users"),
    ]


def build_airflow_dags():  # pragma: no cover - needs airflow installed
    """Materialize the specs as real Airflow DAGs (one
    SparkSubmitOperator per task). Import-gated: returns [] when
    airflow is absent."""
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
        for t in spec.tasks:
            SparkSubmitOperator(
                task_id=t.task_id,
                # spark-submit takes a FILE; resolve the module to its
                # source path (the package ships with the job)
                application=entry_point_file(t.entry_point),
                application_args=list(t.args),
                dag=dag,
            )
        dags.append(dag)
    return dags
