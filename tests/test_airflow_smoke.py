"""Executes tools/airflow_smoke.py's validator under an Airflow-shaped
stub (task_dict / default_args — the attribute surface the real
Airflow 2.x DAG and BaseOperator expose), so the CI
smoke script the VERDICT asked for has in-sandbox line coverage even
though Airflow itself cannot be installed here.

Reference behavior being smoked: the DAG defaults at
/root/reference/dags/fetch_jira_tempo_worklogs.py:15-26
(@daily, catchup off, 1 retry / 5 min), one spark-submit task per DAG.
"""

from __future__ import annotations

import sys
import types
from datetime import datetime, timedelta

import pytest

from airflow_jira_etl_spark.tools.airflow_smoke import (
    main as smoke_main,
    validate_materialized_dags,
)


class FakeDAG:
    """Airflow-2.x-shaped DAG: schedule_interval, catchup,
    default_args, task_dict."""

    def __init__(self, dag_id, schedule, catchup, default_args):
        self.dag_id = dag_id
        self.schedule_interval = schedule
        self.catchup = catchup
        self.default_args = default_args
        self.task_dict = {}


class FakeOp:
    def __init__(self, task_id, application, application_args, dag):
        self.task_id = task_id
        self.application = application
        self.application_args = application_args
        self.dag = dag
        dag.task_dict[task_id] = self


@pytest.fixture()
def stubbed_airflow(monkeypatch):
    airflow_mod = types.ModuleType("airflow")
    airflow_mod.DAG = FakeDAG
    prov = types.ModuleType("airflow.providers")
    apache = types.ModuleType("airflow.providers.apache")
    spark_m = types.ModuleType("airflow.providers.apache.spark")
    ops_m = types.ModuleType("airflow.providers.apache.spark.operators")
    submit_m = types.ModuleType(
        "airflow.providers.apache.spark.operators.spark_submit"
    )
    submit_m.SparkSubmitOperator = FakeOp
    for name, mod in {
        "airflow": airflow_mod,
        "airflow.providers": prov,
        "airflow.providers.apache": apache,
        "airflow.providers.apache.spark": spark_m,
        "airflow.providers.apache.spark.operators": ops_m,
        "airflow.providers.apache.spark.operators.spark_submit": submit_m,
    }.items():
        monkeypatch.setitem(sys.modules, name, mod)
    return airflow_mod


def _materialize():
    from airflow_jira_etl_spark.orchestration import build_airflow_dags

    return build_airflow_dags()


def test_validator_passes_on_materialized_dags(stubbed_airflow):
    dags = _materialize()
    assert len(dags) == 3
    assert validate_materialized_dags(dags) == []


def test_smoke_main_passes_under_stub(stubbed_airflow, capsys):
    assert smoke_main([]) == 0
    out = capsys.readouterr().out
    assert "3 DAGs materialized" in out and "PASS" in out


def test_smoke_main_skips_without_airflow(capsys):
    # no stub installed in this test → the real import fails (Airflow
    # is absent in this sandbox) → distinct exit code 2 for CI "skip"
    assert smoke_main([]) == 2
    assert "SKIP" in capsys.readouterr().out


def test_validator_catches_each_defect_class(stubbed_airflow):
    # wrong dag_id set short-circuits
    dags = _materialize()
    dags[0].dag_id = "wrong"
    fails = validate_materialized_dags(dags)
    assert len(fails) == 1 and "dag_ids" in fails[0]

    # per-dag defects: schedule, catchup, retries, retry_delay,
    # start_date, wrong args, missing application file
    dags = _materialize()
    dags[0].schedule_interval = "@hourly"
    dags[0].catchup = True
    dags[1].default_args = {
        "retries": 9,
        "retry_delay": timedelta(minutes=1),
        "start_date": datetime(1999, 1, 1),
    }
    ops = dags[2].task_dict
    ops["ingest_and_merge"].application_args = ["--bogus"]
    ops["ingest_and_merge"].application = "/nonexistent/file.py"
    msgs = "\n".join(validate_materialized_dags(dags))
    for needle in (
        "schedule",
        "catchup",
        "retries 9",
        "retry_delay",
        "start_date",
        "args",
        "not a file",
    ):
        assert needle in msgs, f"missing failure class {needle!r}:\n{msgs}"

    # missing task short-circuits that dag's task loop
    dags = _materialize()
    del dags[0].task_dict["ingest_and_merge"]
    msgs = "\n".join(validate_materialized_dags(dags))
    assert "task_ids" in msgs


def test_validator_accepts_tz_aware_start_date(stubbed_airflow):
    # real Airflow coerces start_date to tz-aware pendulum datetimes;
    # the validator compares wall-clock date fields only
    from datetime import timezone

    dags = _materialize()
    for d in dags:
        da = dict(d.default_args)
        da["start_date"] = da["start_date"].replace(tzinfo=timezone.utc)
        d.default_args = da
    assert validate_materialized_dags(dags) == []


def test_validator_falls_back_to_tasks_list(stubbed_airflow):
    dags = _materialize()
    for d in dags:
        d.tasks = list(d.task_dict.values())
        del d.task_dict
    assert validate_materialized_dags(dags) == []
