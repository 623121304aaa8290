"""CI smoke check for the Airflow deployment layer (SURVEY §2A A14).

The sandbox this engine is built in cannot install Airflow, so
``orchestration.build_airflow_dags`` is stub-executed in tests
(tests/test_pipeline.py). THIS script is the other half of the
contract: a user (or CI job) **with real Airflow installed** runs

    python -m airflow_jira_etl_spark.tools.airflow_smoke

and it materializes the three engine DAGs and verifies, against the
declarative specs, everything the reference wires by hand in
``/root/reference/dags/fetch_jira_tempo_worklogs.py:97-114``:

* three DAGs (worklogs / issues / users), @daily, catchup off,
  1 retry / 5 min, a concrete start_date (a scheduled DAG without one
  never runs);
* one task per DAG whose ``spark-submit`` application resolves to an
  on-disk file and whose args name the entity. The reference's
  ``create_table >> fetch`` edge has no counterpart: the engine's sink
  creates its table at the first commit, so one Spark job per DAG run
  opens, ingests and merges (``orchestration``).

Optionally ``--execute`` runs ``dag.test()`` on each DAG (Airflow
>= 2.5), which actually invokes ``spark-submit`` — that needs Spark on
PATH and is off by default so the smoke stays sub-second in CI.

Exit codes: 0 = pass, 1 = validation/execution failure,
2 = Airflow not importable (CI can map this to "skipped").

The validator itself is executed in-sandbox by
tests/test_airflow_smoke.py under an Airflow-shaped stub (task_dict,
the attribute real Airflow exposes), so every
line below has local test evidence even though the sandbox lacks
Airflow.
"""

from __future__ import annotations

import os
import sys


def validate_materialized_dags(dags: list) -> list[str]:
    """Check materialized DAG objects against ``build_dag_specs()``.

    Returns a list of human-readable failure strings (empty = pass).
    Uses only the stable Airflow 2.x surface: ``dag.dag_id``,
    ``dag.catchup``, ``dag.default_args`` and ``dag.task_dict`` (falling
    back to ``dag.tasks``).
    """
    from datetime import datetime, timedelta

    from airflow_jira_etl_spark.orchestration import build_dag_specs

    specs = build_dag_specs()
    failures: list[str] = []

    got_ids = [d.dag_id for d in dags]
    want_ids = [s.dag_id for s in specs]
    if got_ids != want_ids:
        failures.append(f"dag_ids {got_ids} != expected {want_ids}")
        return failures  # everything downstream keys off the pairing

    for spec, dag in zip(specs, dags):
        where = spec.dag_id
        # Airflow 2.x exposes the timetable source string as
        # schedule_interval; newer builds keep a `schedule` attr too.
        sched = getattr(dag, "schedule_interval", None)
        if sched is None:
            sched = getattr(dag, "schedule", None)
        if sched != spec.schedule:
            failures.append(f"{where}: schedule {sched!r} != {spec.schedule!r}")
        if bool(dag.catchup) != spec.catchup:
            failures.append(f"{where}: catchup {dag.catchup} != {spec.catchup}")

        da = dict(dag.default_args or {})
        if da.get("retries") != spec.retries:
            failures.append(f"{where}: retries {da.get('retries')} != {spec.retries}")
        if da.get("retry_delay") != timedelta(minutes=spec.retry_delay_minutes):
            failures.append(
                f"{where}: retry_delay {da.get('retry_delay')} != "
                f"{spec.retry_delay_minutes} min"
            )
        want_start = datetime.fromisoformat(spec.start_date_iso)
        got_start = da.get("start_date")
        # real Airflow may coerce to a tz-aware pendulum datetime;
        # compare on the naive wall-clock fields
        if got_start is None or (
            (got_start.year, got_start.month, got_start.day)
            != (want_start.year, want_start.month, want_start.day)
        ):
            failures.append(f"{where}: start_date {got_start!r} != {want_start!r}")

        task_dict = getattr(dag, "task_dict", None)
        if task_dict is None:
            task_dict = {t.task_id: t for t in getattr(dag, "tasks", [])}
        want_tasks = {t.task_id: t for t in spec.tasks}
        if set(task_dict) != set(want_tasks):
            failures.append(
                f"{where}: task_ids {sorted(task_dict)} != {sorted(want_tasks)}"
            )
            continue

        for tid, tspec in want_tasks.items():
            op = task_dict[tid]
            app = getattr(op, "application", None)
            if not app or not os.path.isfile(app):
                failures.append(f"{where}.{tid}: application {app!r} is not a file")
            got_args = list(getattr(op, "application_args", []) or [])
            if got_args != list(tspec.args):
                failures.append(
                    f"{where}.{tid}: args {got_args} != {list(tspec.args)}"
                )
    return failures


def main(argv: list[str] | None = None) -> int:
    args = list(sys.argv[1:] if argv is None else argv)
    execute = "--execute" in args

    try:
        import airflow  # noqa: F401
    except ImportError:
        print(
            "airflow-smoke: SKIP — Airflow is not importable in this "
            "environment. Install apache-airflow plus "
            "apache-airflow-providers-apache-spark and re-run."
        )
        return 2

    from airflow_jira_etl_spark.orchestration import build_airflow_dags

    dags = build_airflow_dags()
    failures = validate_materialized_dags(dags)
    for f in failures:
        print(f"airflow-smoke: FAIL — {f}")
    if failures:
        return 1
    print(f"airflow-smoke: {len(dags)} DAGs materialized and validated")

    if execute:
        # dag.test() runs the whole DAG in-process (Airflow >= 2.5) —
        # each task shells out to spark-submit, so Spark must be on
        # PATH. This mirrors the reference's end-to-end daily run.
        for dag in dags:
            print(f"airflow-smoke: executing {dag.dag_id} via dag.test() ...")
            result = dag.test()
            state = getattr(result, "state", result)
            print(f"airflow-smoke: {dag.dag_id} -> {state}")
            if str(state) not in ("DagRunState.SUCCESS", "success"):
                print(f"airflow-smoke: FAIL — {dag.dag_id} ended {state}")
                return 1
    print("airflow-smoke: PASS")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
