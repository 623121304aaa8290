"""Ingest-layer tests: pagination protocols, retry policy, fan-out ≡
serial union, idempotent replay — the reference's operational
invariants (SURVEY.md §3.4) as properties."""

from __future__ import annotations

import json
import os

import pytest

from airflow_jira_etl_spark.entities import WORKLOG_MAPPING
from airflow_jira_etl_spark.sources import fixture_fetchers
from airflow_jira_etl_spark.sources.paged_rest import (
    cursor_scan,
    offset_scan_parallel,
    records_to_flat_df,
    single_page_scan,
    with_retry,
)

# ---- fixture fetchers (the three reference response shapes, FIXTURES.md §2)


def make_cursor_fetcher(n_pages: int = 3, page_size: int = 4):
    """Worklogs shape: {"results": [...], "metadata": {"next": url?}}."""

    def fetch(url: str, params=None):
        page_no = int(url.rsplit("page=", 1)[1]) if "page=" in url else 0
        records = [
            {"tempoWorklogId": str(page_no * page_size + i), "self": f"w{page_no}-{i}"}
            for i in range(page_size)
        ]
        meta = {}
        if page_no < n_pages - 1:
            meta["next"] = f"https://api/worklogs?page={page_no + 1}"
        return {"results": records, "metadata": meta}

    return fetch


def make_offset_fetcher(total: int = 23, stride: int = 5):
    """Issues shape: {"startAt": N, "maxResults": M, "total": T, "issues": [...]}.
    Each record carries the ``startAt`` it was served under, non-ASCII
    text, and (every third record) a JSON null leaf."""

    def fetch(url: str, params=None):
        start = int((params or {}).get("startAt", 0))
        records = [
            {
                "id": str(i),
                "self": None if i % 3 == 1 else f"issue-{i} — naïve ✓ 日本",
                "page": start,
            }
            for i in range(start, min(start + stride, total))
        ]
        return {"startAt": start, "maxResults": stride, "total": total, "issues": records}

    return fetch


def _analyzed_leaves(df) -> list[str]:
    """Class names of the analyzed plan's leaf nodes."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return sorted(leaves.apply(i).getClass().getSimpleName() for i in range(leaves.size()))


def optimized_leaves(df) -> list[tuple[str, list[str]]]:
    """(class name, output column names) of each leaf of the optimized
    plan."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    out = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        cols = leaf.output()
        names = [cols.apply(j).name() for j in range(cols.size())]
        out.append((leaf.getClass().getSimpleName(), names))
    return sorted(out)


def _physical_nodes(node) -> list:
    """``node`` and every node below it, pre-order."""
    out = [node]
    children = node.children()
    for i in range(children.size()):
        out += _physical_nodes(children.apply(i))
    return out


def python_nodes(df) -> list[str]:
    """Class names of the executed plan's Python-evaluating nodes
    (MapInPandas, ArrowEvalPython, PythonMapInArrow, ...): any of them
    starts a Python worker when the frame runs."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.inputPlan()  # the plan before any stage ran
    names = [n.getClass().getSimpleName() for n in _physical_nodes(plan)]
    return [n for n in names if any(k in n for k in ("Python", "InPandas", "InArrow"))]


def test_cursor_scan_follows_chain_in_order():
    pages = list(cursor_scan(make_cursor_fetcher(), "https://api/worklogs?page=0"))
    assert len(pages) == 3
    ids = [r["tempoWorklogId"] for page in pages for r in page]
    assert ids == [str(i) for i in range(12)]


def test_single_page_scan_bare_list():
    fetch = lambda url, params=None: [{"accountId": "a"}, {"accountId": "b"}]  # noqa: E731
    assert len(single_page_scan(fetch, "https://api/users")) == 2


def test_retry_policy_recovers_and_gives_up():
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise ConnectionError("boom")
        return "ok"

    sleeps = []
    assert with_retry(flaky, sleep=sleeps.append) == "ok"
    assert calls["n"] == 3
    # exp backoff clamped to [4, 10] (the reference's tenacity config)
    assert all(4.0 <= s <= 10.0 for s in sleeps)

    def always_fails():
        raise ConnectionError("down")

    with pytest.raises(ConnectionError):
        with_retry(always_fails, sleep=lambda s: None)


def _scan_like_serial_walk(spark, total: int, stride: int):
    """Fan-out scan of an emulated offset endpoint, checked row for row
    against a serial walk that fetches each offset once."""
    fetch = make_offset_fetcher(total=total, stride=stride)
    df = offset_scan_parallel(spark, fetch, "https://api/search", records_key="issues")
    serial = [
        json.dumps(r)
        for start in range(0, max(total, 1), stride)
        for r in fetch("https://api/search", {"startAt": start})["issues"]
    ]
    got = [r.raw for r in df.collect()]
    assert sorted(got) == sorted(serial)
    assert len(got) == total
    assert {json.loads(raw)["page"] for raw in got} == set(range(0, total, stride))
    return df


def test_offset_fanout_equals_serial_union(spark):
    """A3 parallel fan-out must produce exactly the rows a serial walk
    produces. All pages land in ONE Arrow LocalRelation, and the
    executed plan evaluates no Python: the pages are fetched on driver
    threads, not in a pandas kernel on executors."""
    for total, stride in [(23, 5), (250, 100)]:  # 250/100: offsets 100, 200
        df = _scan_like_serial_walk(spark, total, stride)
        assert _analyzed_leaves(df) == ["LocalRelation"]
        assert python_nodes(df) == []


def test_offset_fanout_rows_in_page_order(spark):
    """Rows come out page 0 first, then by ascending startAt, even when
    later pages answer first — the order the upsert's last-writer-wins
    rule relies on."""
    import time

    total, stride = 40, 4
    serve = make_offset_fetcher(total=total, stride=stride)

    def fetch(url, params=None):  # the later the page, the sooner it answers
        time.sleep(0.01 * (total - int((params or {}).get("startAt", 0))) / stride)
        return serve(url, params)

    df = offset_scan_parallel(spark, fetch, "https://api/search", records_key="issues")
    got = [json.loads(r.raw) for r in df.collect()]
    assert [r["id"] for r in got] == [str(i) for i in range(total)]
    assert [r["page"] for r in got] == [i - i % stride for i in range(total)]


def test_offset_fanout_concurrency_is_bounded(spark):
    """More pages than PAGE_PARALLELISM: pages are fetched concurrently,
    never more than PAGE_PARALLELISM at once. The short switch interval
    makes the threads interleave as often as the interpreter allows."""
    import sys
    import threading
    import time

    from airflow_jira_etl_spark.sources.paged_rest import PAGE_PARALLELISM

    lock = threading.Lock()
    in_flight = {"now": 0, "peak": 0}
    serve = make_offset_fetcher(total=2 * PAGE_PARALLELISM + 5, stride=1)

    def fetch(url, params=None):
        with lock:
            in_flight["now"] += 1
            in_flight["peak"] = max(in_flight["peak"], in_flight["now"])
        try:
            time.sleep(0.05)
            return serve(url, params)
        finally:
            with lock:
                in_flight["now"] -= 1

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        df = offset_scan_parallel(spark, fetch, "https://api/search", records_key="issues")
    finally:
        sys.setswitchinterval(interval)
    ids = [json.loads(r.raw)["id"] for r in df.collect()]
    assert ids == [str(i) for i in range(2 * PAGE_PARALLELISM + 5)]
    assert 1 < in_flight["peak"] <= PAGE_PARALLELISM


class _PageDown(BaseException):
    """Escapes ``with_retry`` (which retries only ``Exception``), so the
    error test never sleeps through the backoff."""


def test_offset_fanout_page_error_fails_the_scan(spark):
    """A page whose fetch fails raises that error out of the scan — no
    short extract — and the pages not yet started are never fetched."""
    import threading
    import time

    from airflow_jira_etl_spark.sources.paged_rest import PAGE_PARALLELISM

    n_pages = 3 * PAGE_PARALLELISM
    serve = make_offset_fetcher(total=n_pages, stride=1)
    lock = threading.Lock()
    calls = {"n": 0}

    def fetch(url, params=None):
        with lock:
            calls["n"] += 1
        start = int((params or {}).get("startAt", 0))
        if start == 1:
            raise _PageDown(f"page at startAt={start}")
        if start:
            time.sleep(0.1)
        return serve(url, params)

    with pytest.raises(_PageDown, match="startAt=1"):
        offset_scan_parallel(spark, fetch, "https://api/search", records_key="issues")
    assert calls["n"] < n_pages  # cancelled pages were never fetched


def test_offset_fanout_single_page(spark):
    """total <= stride: page 0 alone, as a LocalRelation — no fan-out."""
    for total, stride in [(3, 5), (100, 100), (0, 5)]:
        df = _scan_like_serial_walk(spark, total, stride)
        assert _analyzed_leaves(df) == ["LocalRelation"]


def test_totalless_endpoint_single_page(spark):
    """An endpoint that reports no ``total`` (the A4 single-page shape)
    returns its page 0 as a LocalRelation, never zero rows."""
    df = offset_scan_parallel(
        spark, fixture_fetchers.totalless_fetcher({}), "https://api/users"
    )
    assert _analyzed_leaves(df) == ["LocalRelation"]
    ids = sorted(int(json.loads(r.raw)["id"]) for r in df.collect())
    assert ids == list(range(fixture_fetchers.SINGLE_PAGE_N))


def test_offset_scan_forwards_filter_params(spark):
    """Filter params reach every page fetch, page 0 and the
    concurrently fetched pages alike, so the server filters
    (the reference forwards its filters as API params,
    fetch_jira_tempo_worklogs.py:60-63) and its filtered ``total``
    sizes the fan-out."""
    serve = fixture_fetchers.synthetic_issues_fetcher({})

    def fetch(url, params=None):
        if (params or {}).get("priority") != "high":
            raise ValueError(f"fetch without priority=high: {params}")
        return serve(url, params)

    df = offset_scan_parallel(
        spark, fetch, "https://api/search", params={"priority": "high"}
    )
    ids = sorted(int(json.loads(r.raw)["id"]) for r in df.collect())
    assert ids == list(range(0, fixture_fetchers.TOTAL, 2))
    assert len(ids) == 69


_CURSOR_PAGES = {
    "ascii": [
        {"tempoWorklogId": "1", "self": "w1", "issue": {"id": "I1", "self": "u"},
         "timeSpentSeconds": 60, "author": {"accountId": "A1", "self": "u"}},
        {"tempoWorklogId": "2", "self": "w2", "description": "fixed bug"},
    ],
    "empty": [],
    "non_ascii": [
        {"tempoWorklogId": "3", "self": "w3",
         "description": "Überstunden — naïve ✓ 日本語 🚀"},
        {"tempoWorklogId": "4", "self": "w4", "author": {"accountId": "Zoë"}},
    ],
    "null_leaf": [
        {"tempoWorklogId": "5", "self": None, "description": None,
         "issue": {"id": None, "self": "u"}, "timeSpentSeconds": None},
        {"tempoWorklogId": "6", "self": "w6", "issue": None},
    ],
}


@pytest.mark.parametrize("page", sorted(_CURSOR_PAGES))
def test_records_to_flat_df_is_local_relation_with_same_rows(spark, page):
    """A driver-held page becomes an Arrow LocalRelation and flattens
    to exactly the rows of the Python-RDD frame it replaced."""
    from airflow_jira_etl_spark.session import scoped_conf
    from airflow_jira_etl_spark.sources.paged_rest import raw_json_to_flat

    records = _CURSOR_PAGES[page]
    flat = records_to_flat_df(spark, records, WORKLOG_MAPPING)
    assert _analyzed_leaves(flat) == ["LocalRelation"]
    assert optimized_leaves(flat) == [("LocalRelation", ["raw"])]
    with scoped_conf(spark, "spark.sql.execution.arrow.pyspark.enabled", "false"):
        no_arrow_conf = records_to_flat_df(spark, records, WORKLOG_MAPPING)
        assert _analyzed_leaves(no_arrow_conf) == ["LocalRelation"]

    rdd_raw = spark.createDataFrame([(json.dumps(r),) for r in records], "raw string")
    assert _analyzed_leaves(rdd_raw) == ["LogicalRDD"]
    want = raw_json_to_flat(rdd_raw, WORKLOG_MAPPING)
    assert flat.schema == want.schema
    assert sorted(map(tuple, flat.collect()), key=repr) == sorted(
        map(tuple, want.collect()), key=repr
    )
    assert flat.count() == len(records)
    if page == "empty":  # still every MAPPING leaf, in MAPPING order
        assert flat.columns == [
            "url", "tempo_worklog_id", "issue_id", "issue_url",
            "time_spent_seconds", "billable_seconds", "start_date", "start_time",
            "description", "created_at", "updated_at", "author_id", "author_url",
        ]
    rows = {r.tempo_worklog_id: r for r in flat.collect()}
    if page == "non_ascii":
        assert rows["3"].description == "Überstunden — naïve ✓ 日本語 🚀"
        assert rows["4"].author_id == "Zoë"
    if page == "null_leaf":
        assert rows["5"].url is None and rows["5"].description is None
        assert rows["5"].issue_id is None and rows["5"].issue_url == "u"
        assert rows["6"].issue_id is None


def test_ingest_replay_is_idempotent(spark, tmp_path):
    """Re-ingesting the same pages through the upsert sink leaves the
    table unchanged — the invariant that makes the reference's
    retry/replay safe (SURVEY.md §3.4)."""
    from airflow_jira_etl_spark.sinks.parquet_upsert import ParquetUpsertTable

    pages = list(cursor_scan(make_cursor_fetcher(), "https://api/worklogs?page=0"))
    table = ParquetUpsertTable(
        spark, os.path.join(str(tmp_path), "t"), key="tempo_worklog_id"
    )
    mapping = {"tempoWorklogId": "tempo_worklog_id", "self": "url"}
    for page in pages:
        table.apply(records_to_flat_df(spark, page, mapping))
    first_state = sorted(map(tuple, table.read().collect()))
    # replay every page again (the reference's whole-scan retry)
    for page in pages:
        table.apply(records_to_flat_df(spark, page, mapping))
    assert sorted(map(tuple, table.read().collect())) == first_state
    assert len(first_state) == 12


def test_corrupt_quarantine_preserves_raw_lines(spark, sf_dir):
    """Every planted corrupt line must be captured INTACT (raw text in
    the _malformed column), and the clean/quarantine split must be
    exhaustive — no line silently dropped."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from airflow_jira_etl_spark import catalog, registry

    registry.load_all_queries()
    clean = registry.QUERIES["scan_corrupt_quarantine"](spark, sf_dir)
    n_clean = clean.count()
    total = catalog.load(spark, sf_dir, "events").count()
    n_planted = catalog.load(spark, sf_dir, "events").where(
        F.col("event_id") % 1000 == 17
    ).count()
    assert n_planted > 0
    assert n_clean == total - n_planted

    from airflow_jira_etl_spark.scratch import session_scratch

    tag = os.path.basename(os.path.normpath(sf_dir))
    out_dir = session_scratch("events_corrupt", tag)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("_malformed", T.StringType()),
        ]
    )
    parsed = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_malformed")
        .json(out_dir)
        # Spark disallows queries touching ONLY the corrupt column on a
        # raw scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN); a quarantine
        # consumer caches the parsed batch and splits it from there
        .cache()
    )
    parsed.count()  # materialize the cache; the rule checks the raw scan
    quarantined = parsed.where(F.col("_malformed").isNotNull())
    rows = quarantined.collect()
    parsed.unpersist()
    assert len(rows) == n_planted
    # raw line survives verbatim for replay/debugging
    assert all(r._malformed.startswith('{"event_id": ') for r in rows)
    assert all(r._malformed.endswith(', "user_') for r in rows)


def test_single_page_scan_rejects_object_response(spark):
    """A dict response (an API error body under HTTP 200) must raise,
    not silently become a list of key strings."""
    from airflow_jira_etl_spark.sources.paged_rest import single_page_scan

    err_body = {"errorMessages": ["boom"], "errors": {}}
    with pytest.raises(TypeError, match="object, not a list"):
        single_page_scan(lambda url, params=None: err_body, "https://api/x")


def test_offset_scan_parallel_rejects_caller_start_at(spark):
    """The fan-out scan owns startAt (pages cover from 0); a caller-
    supplied offset would silently skip or double-fetch pages."""
    from airflow_jira_etl_spark.sources.fixture_fetchers import (
        synthetic_issues_fetcher,
    )
    from airflow_jira_etl_spark.sources.paged_rest import offset_scan_parallel

    with pytest.raises(ValueError, match="startAt"):
        offset_scan_parallel(
            spark,
            synthetic_issues_fetcher({}),
            "https://api/search",
            params={"startAt": 50},
        )


def test_http_fetcher_factory_has_datasource_shape():
    """The documented production wiring is (options) -> fetch: the
    factory must accept one options dict (the raw http_fetcher takes
    two positional strings and crashed when wired as documented)."""
    from airflow_jira_etl_spark.sources.paged_rest import http_fetcher_factory

    fetch = http_fetcher_factory({"auth_scheme": "Basic", "token_env": "T"})
    assert callable(fetch)


def test_page_plan_rejects_non_positive_stride():
    """A server replying maxResults=-1 ('unlimited' convention) would
    yield no further offsets (range step -1) — the fan-out silently
    returns page 0 alone. The parse refuses; maxResults=0 keeps the
    documented fall-back to the default stride."""
    from airflow_jira_etl_spark.sources.paged_rest import page_plan

    with pytest.raises(ValueError, match="non-positive maxResults"):
        page_plan({"total": 137, "maxResults": -1, "issues": []})
    assert page_plan({"total": 10, "maxResults": 0}) == (10, 100)
