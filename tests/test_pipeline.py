"""End-to-end pipeline test: the reference's worklogs DAG (fetch >>
upsert) against a fixture cursor API."""

from __future__ import annotations

from airflow_jira_etl_spark.pipeline import worklog_pipeline
from tests.test_ingest import make_cursor_fetcher


def _worklog_fetcher(n_pages=3, page_size=4):
    base = make_cursor_fetcher(n_pages, page_size)

    def fetch(url, params=None):
        page = base(url, params)
        # enrich with the nested fields the WORKLOG_MAPPING expects
        for i, r in enumerate(page["results"]):
            r["issue"] = {"id": f"I{r['tempoWorklogId']}", "self": "u"}
            r["author"] = {"accountId": f"A{i}", "self": "u"}
        return page

    return fetch


def test_worklog_pipeline_end_to_end(spark, tmp_path):
    p = worklog_pipeline(
        spark, _worklog_fetcher(), "https://api/worklogs?page=0", str(tmp_path)
    )
    p.run({})
    # run a fresh pipeline again (the Airflow retry-from-scratch path):
    # state must be unchanged (idempotent replay)
    ctx2: dict = {}
    worklog_pipeline(
        spark, _worklog_fetcher(), "https://api/worklogs?page=0", str(tmp_path)
    ).run(ctx2)
    table = ctx2["table"].read()
    assert table.count() == 12
    cols = set(table.columns)
    assert {"tempo_worklog_id", "issue_id", "author_id", "url"} <= cols


def test_worklog_run_keeps_two_generations(spark, tmp_path):
    """Each cursor page commits a full copy of a one-bucket table as a
    new generation; the run ends with a vacuum, so a 3-page run leaves
    at most 2 generations and no crashed writer's staging dir. A fresh
    re-run (the Airflow retry) leaves the rows unchanged."""
    import os

    url = "https://api/worklogs?page=0"
    crashed = tmp_path / "worklogs" / ".staging_gen_000009_dead"
    crashed.mkdir(parents=True)
    states = []
    for _ in range(2):
        ctx: dict = {}
        worklog_pipeline(spark, _worklog_fetcher(n_pages=3), url, str(tmp_path)).run(ctx)
        table = ctx["table"]
        assert len(table.generations()) == 2
        assert not [d for d in os.listdir(table.root) if d.startswith(".staging_")]
        states.append(sorted(map(tuple, table.read().collect())))
    assert len(states[0]) == 12 and states[1] == states[0]


def test_dag_specs_mirror_reference_shape():
    """Three entity DAGs with the reference's @daily/catchup-off/
    1-retry-5-min defaults (fetch_jira_tempo_worklogs.py:15-26), each
    ONE spark-submit task: the sink creates its table at the first
    commit, so the reference's create_table >> fetch edge has no
    counterpart."""
    from airflow_jira_etl_spark.orchestration import build_airflow_dags, build_dag_specs

    specs = build_dag_specs()
    assert [s.dag_id for s in specs] == [
        "fetch_jira_tempo_worklogs",
        "fetch_jira_issues",
        "fetch_jira_users",
    ]
    for s in specs:
        assert (s.schedule, s.catchup, s.retries, s.retry_delay_minutes) == (
            "@daily",
            False,
            1,
            5,
        )
        assert [t.task_id for t in s.tasks] == ["ingest_and_merge"]
    # airflow absent here: materialization degrades to []
    assert build_airflow_dags() == []


def test_orchestration_import_loads_no_spark():
    """An Airflow DAG file imports ``orchestration`` at every scheduler
    parse: the specs are plain data, so that import must not load
    pyspark."""
    import os
    import subprocess
    import sys

    code = (
        "import sys, airflow_jira_etl_spark.orchestration\n"
        "assert 'pyspark' not in sys.modules, "
        "sorted(m for m in sys.modules if m.startswith('pyspark'))[:5]"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run([sys.executable, "-c", code], cwd=repo, check=True)


def test_issues_pipeline_offset_fanout(spark, tmp_path):
    from airflow_jira_etl_spark.pipeline import issues_pipeline
    from airflow_jira_etl_spark.sources import fixture_fetchers

    fetch = fixture_fetchers.synthetic_issues_fetcher({})
    ctx: dict = {}
    issues_pipeline(spark, fetch, "https://api/search", str(tmp_path)).run(ctx)
    table = ctx["table"].read()
    assert table.count() == fixture_fetchers.TOTAL
    assert "issue_id" in table.columns and "issue_key" in table.columns


def test_issues_pipeline_joins_labels_like_the_reference(spark, tmp_path):
    """``fields.labels`` is a JSON list: the stored column follows the
    reference's A7 rule ``'//'.join(map(str, value))`` — NULL elements
    render as 'None' and an empty list as '' — not the list's JSON
    text."""
    from airflow_jira_etl_spark.pipeline import issues_pipeline

    issues = [
        {"id": "1", "key": "P-1", "fields": {"labels": ["a", "b", None]}},
        {"id": "2", "key": "P-2", "fields": {"labels": []}},
    ]

    def fetch(url, params=None):
        start = int((params or {}).get("startAt", 0))
        return {
            "startAt": start,
            "maxResults": 50,
            "total": len(issues),
            "issues": issues[start : start + 50],
        }

    ctx: dict = {}
    issues_pipeline(spark, fetch, "https://api/search", str(tmp_path)).run(ctx)
    got = {r.issue_id: r.fields_labels for r in ctx["table"].read().collect()}
    assert got == {"1": "a//b//None", "2": ""}


def test_issues_pipeline_later_page_wins(spark, tmp_path):
    """A key served on page 0 and again on page 2 keeps page 2's value:
    the reference persists records in page order (issue_processor.py
    :114-167), so the later page is the last writer."""
    from airflow_jira_etl_spark.pipeline import issues_pipeline

    stride = 2
    pages = {
        0: [{"id": "7", "fields": {"timespent": 100}}, {"id": "1"}],
        2: [{"id": "2"}, {"id": "3"}],
        4: [{"id": "7", "fields": {"timespent": 300}}, {"id": "4"}],
    }

    def fetch(url, params=None):
        start = int((params or {}).get("startAt", 0))
        return {"startAt": start, "maxResults": stride, "total": 6, "issues": pages[start]}

    ctx: dict = {}
    issues_pipeline(spark, fetch, "https://api/search", str(tmp_path)).run(ctx)
    got = {r.issue_id: r.fields_timespent for r in ctx["table"].read().collect()}
    assert sorted(got) == ["1", "2", "3", "4", "7"]
    assert str(got["7"]) == "300"


def test_ingest_starts_no_python_worker(spark, tmp_path):
    """Every ingest batch of the three entity pipelines runs on the
    JVM: its plan reads an Arrow LocalRelation and evaluates no Python
    (no pandas/Arrow kernel, no Python UDF). The optimizer leaves the
    flatten in the plan: the optimized plan still parses (from_json)
    above the one-column LocalRelation of raw JSON, so the parse runs
    in the task that consumes the batch, not folded into a new
    LocalRelation on the driver."""
    from airflow_jira_etl_spark.pipeline import issues_pipeline, users_pipeline
    from airflow_jira_etl_spark.sources import fixture_fetchers
    from tests.test_ingest import _analyzed_leaves, optimized_leaves, python_nodes

    builds = {
        "worklogs": worklog_pipeline(
            spark, _worklog_fetcher(), "https://api/worklogs?page=0", str(tmp_path)
        ),
        "issues": issues_pipeline(
            spark,
            fixture_fetchers.synthetic_issues_fetcher({}),
            "https://api/search",
            str(tmp_path),
        ),
        "users": users_pipeline(spark, _users_fetcher, "https://api/users", str(tmp_path)),
    }
    for entity, p in builds.items():
        batches = list(p.ingest())
        assert batches, entity
        for batch in batches:
            assert python_nodes(batch) == [], entity
            assert _analyzed_leaves(batch) == ["LocalRelation"], entity
            assert optimized_leaves(batch) == [("LocalRelation", ["raw"])], entity
            optimized = batch._jdf.queryExecution().optimizedPlan().toString()
            assert "from_json" in optimized, entity


def test_unioned_flat_batches_analyze_and_count(spark):
    """Each batch observes its relation under its own name, so two
    batches (and a batch with itself) union, analyze and count."""
    from airflow_jira_etl_spark.entities import WORKLOG_MAPPING
    from airflow_jira_etl_spark.sources.paged_rest import records_to_flat_df

    fetch = _worklog_fetcher(n_pages=2, page_size=3)
    pages = [fetch(f"https://api/worklogs?page={i}")["results"] for i in range(2)]
    a, b = (records_to_flat_df(spark, page, WORKLOG_MAPPING) for page in pages)
    both = a.unionByName(b)
    assert both.count() == 6
    assert sorted(r.tempo_worklog_id for r in both.collect()) == [str(i) for i in range(6)]
    assert both.unionByName(a.limit(0)).count() == 6


def _users_fetcher(url, params=None):
    return [
        {"self": "u1", "accountId": "a1", "displayName": "Jane", "active": "true"},
        {"self": "u2", "accountId": "a2", "displayName": "Kai", "active": "false"},
    ]


def test_users_pipeline_single_page(spark, tmp_path):
    from airflow_jira_etl_spark.pipeline import users_pipeline

    ctx: dict = {}
    users_pipeline(spark, _users_fetcher, "https://api/users", str(tmp_path)).run(ctx)
    table = ctx["table"].read()
    assert table.count() == 2
    assert {"account_id", "display_name", "url"} <= set(table.columns)

def test_spec_args_parse_and_name_real_tasks():
    """Every DAG spec's CLI args must parse against pipeline.main's
    argparse surface and name a real entity — the declarative layer
    must be runnable as specified."""
    from airflow_jira_etl_spark.orchestration import build_dag_specs
    from airflow_jira_etl_spark.pipeline import parse_args

    entities = []
    for spec in build_dag_specs():
        (t,) = spec.tasks
        ns = parse_args(list(t.args))  # SystemExit 2 on unknown arg
        entities.append(ns.entity)
        assert spec.dag_id == f"fetch_jira_{ns.entity}", spec.dag_id
    assert entities == ["tempo_worklogs", "issues", "users"]


def test_airflow_materialization_under_stub(monkeypatch):
    """build_airflow_dags with a stubbed airflow module: real DAG
    objects carrying the reference defaults and one operator each, with
    a file-path application and no edge."""
    import os
    import sys
    import types

    captured_dags = []

    class FakeDAG:
        def __init__(self, dag_id, schedule, catchup, default_args):
            self.dag_id = dag_id
            self.schedule = schedule
            self.catchup = catchup
            self.default_args = default_args
            captured_dags.append(self)

    captured_ops = []

    class FakeOp:
        def __init__(self, task_id, application, application_args, dag):
            self.task_id = task_id
            self.application = application
            self.application_args = application_args
            self.dag = dag
            self.downstream = []
            captured_ops.append(self)

        def __rshift__(self, other):
            self.downstream.append(other.task_id)
            return other

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

    from airflow_jira_etl_spark.orchestration import build_airflow_dags

    dags = build_airflow_dags()
    assert [d.dag_id for d in dags] == [
        "fetch_jira_tempo_worklogs",
        "fetch_jira_issues",
        "fetch_jira_users",
    ]
    from datetime import datetime, timedelta

    for d in dags:
        assert d.schedule == "@daily" and d.catchup is False
        assert d.default_args == {
            "retries": 1,
            "retry_delay": timedelta(minutes=5),
            # the reference's start_date default (a scheduled DAG
            # without one never runs)
            "start_date": datetime(2025, 1, 1),
        }
    for op in captured_ops:
        # a real file spark-submit can run, not a '-m module' string
        assert os.path.isfile(op.application), op.application
        assert op.application.endswith("pipeline.py")
    assert [(op.dag.dag_id, op.task_id) for op in captured_ops] == [
        (d.dag_id, "ingest_and_merge") for d in dags
    ]
    assert all(op.downstream == [] for op in captured_ops)


def test_cli_defaults_run_every_entity_end_to_end(spark, tmp_path):
    """pipeline.main with ONLY --entity/--table-root must ingest real
    rows for ALL THREE entities: each entity now defaults to its
    SHAPE-matched emulator (the old shared issues-shaped default made
    --entity=users crash and --entity=tempo_worklogs silently ingest
    zero rows while exiting green)."""
    import os

    from airflow_jira_etl_spark.pipeline import main
    from airflow_jira_etl_spark.sinks.parquet_upsert import ParquetUpsertTable
    from airflow_jira_etl_spark.sources import fixture_fetchers as ff

    root = str(tmp_path / "tables")
    expected = {
        "issues": ("issues", ff.TOTAL),
        "users": ("users", 9),
        "tempo_worklogs": ("worklogs", ff.WORKLOG_TOTAL),
    }
    for entity, (subdir, n) in expected.items():
        main([f"--entity={entity}", f"--table-root={root}"])
        t = ParquetUpsertTable(spark, os.path.join(root, subdir), key="x")
        assert t.read().count() == n, entity


def test_dag_specs_carry_start_date_and_no_key():
    """The reference's start_date default must materialize (a scheduled
    Airflow DAG without one never runs). The task passes no upsert key:
    the entity builder's default is the one source of it."""
    from airflow_jira_etl_spark.orchestration import build_dag_specs

    for spec in build_dag_specs():
        assert spec.start_date_iso == "2025-01-01"
        for t in spec.tasks:
            assert not any(a.startswith("--unique-column") for a in t.args), spec.dag_id


def test_entity_pipelines_create_one_bucket_tables(spark, tmp_path):
    """Fresh entity tables are committed with ENTITY_N_BUCKETS (1)
    bucket: every page dirties every bucket, so one bucket rewrites no
    more bytes and writes one file per apply."""
    from airflow_jira_etl_spark.pipeline import (
        ENTITY_N_BUCKETS,
        issues_pipeline,
        users_pipeline,
    )
    from airflow_jira_etl_spark.sources import fixture_fetchers

    assert ENTITY_N_BUCKETS == 1
    runs = {
        "worklogs": lambda: worklog_pipeline(
            spark, _worklog_fetcher(), "https://api/worklogs?page=0", str(tmp_path)
        ),
        "issues": lambda: issues_pipeline(
            spark,
            fixture_fetchers.synthetic_issues_fetcher({}),
            "https://api/search",
            str(tmp_path),
        ),
        "users": lambda: users_pipeline(
            spark, _users_fetcher, "https://api/users", str(tmp_path)
        ),
    }
    for entity, build in runs.items():
        ctx: dict = {}
        build().run(ctx)
        manifest = ctx["table"]._read_manifest()
        assert manifest["n_buckets"] == 1, entity
        assert list(manifest["buckets"]) == ["0"], entity


def test_existing_bucket_layout_is_kept_until_compacted(spark, tmp_path):
    """A worklogs table created with the sink's old 16-bucket default
    keeps 16 buckets when the pipeline merges into it (n_buckets is
    manifest-authoritative) and ends with a fresh run's rows;
    compact(n_buckets=1) then migrates it with identical rows."""
    import os

    from airflow_jira_etl_spark.entities import WORKLOG_MAPPING
    from airflow_jira_etl_spark.sinks.parquet_upsert import (
        DEFAULT_N_BUCKETS,
        ParquetUpsertTable,
    )
    from airflow_jira_etl_spark.sources.paged_rest import records_to_flat_df

    assert DEFAULT_N_BUCKETS == 16
    url = "https://api/worklogs?page=0"
    fresh: dict = {}
    worklog_pipeline(spark, _worklog_fetcher(), url, str(tmp_path / "fresh")).run(fresh)
    want = sorted(map(tuple, fresh["table"].read().collect()))
    assert len(want) == 12

    # the old layout, holding stale values for the first page's keys
    old = ParquetUpsertTable(
        spark, os.path.join(str(tmp_path / "old"), "worklogs"), key="tempo_worklog_id"
    )
    stale = _worklog_fetcher()(url)["results"]
    for r in stale:
        r["self"] = "stale"
    old.apply(records_to_flat_df(spark, stale, WORKLOG_MAPPING))
    assert old._read_manifest()["n_buckets"] == 16

    ctx: dict = {}
    worklog_pipeline(spark, _worklog_fetcher(), url, str(tmp_path / "old")).run(ctx)
    table = ctx["table"]
    assert table._read_manifest()["n_buckets"] == 16
    assert len(table._read_manifest()["buckets"]) > 1
    assert sorted(map(tuple, table.read().collect())) == want

    table.compact(n_buckets=1)
    manifest = table._read_manifest()
    assert manifest["n_buckets"] == 1 and list(manifest["buckets"]) == ["0"]
    assert sorted(map(tuple, table.read().collect())) == want


def test_benchmark_trace_hooks_see_every_layer(spark, tmp_path, monkeypatch):
    """The benchmark's per-layer metrics come from wrappers that
    ``perfbench.tracing.install`` puts on ``pipeline``'s scan and
    flatten functions and on ``ParquetUpsertTable.apply``. A pipeline
    that bound those functions at import, or went round them, would
    report zero pages, records or mapping calls while still passing
    every other test."""
    from airflow_jira_etl_spark import pipeline
    from airflow_jira_etl_spark.sinks.parquet_upsert import ParquetUpsertTable
    from perfbench import emulator, tracing, workloads

    for name in (
        "cursor_scan",
        "single_page_scan",
        "offset_scan_parallel",
        "records_to_flat_df",
        "raw_json_to_flat",
    ):
        monkeypatch.setattr(pipeline, name, getattr(pipeline, name))
    monkeypatch.setattr(ParquetUpsertTable, "apply", ParquetUpsertTable.apply)
    tracer = tracing.Tracer(spark)
    tracer.traced = True
    tracing.install(tracer)

    sizes = emulator.Sizes(2, 10, 2, 20, 10)
    workloads.EtlRun(spark, seed=3, table_root=str(tmp_path), sizes=sizes).run_pass()
    # issues: one fanned-out extract, one flatten, one apply; worklogs:
    # one of each per cursor page; users: one of each
    assert tracer.counts["sources.pages"] == sizes.issue_pages + sizes.worklog_pages + 1
    assert tracer.counts["sources.records"] == (
        sizes.issues + sizes.worklog_pages * sizes.worklogs_per_page + sizes.users
    )
    assert tracer.counts["mapping.calls"] == 1 + sizes.worklog_pages + 1
    assert sum(s.kind == "apply" for s in tracer.spans) == 1 + sizes.worklog_pages + 1
