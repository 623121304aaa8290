"""Custom REST DataSource tests: parallel offset scan, schema-by-name
record extraction, filter pushdown shrinking the scan."""

from __future__ import annotations

import pytest

from airflow_jira_etl_spark.sources import fixture_fetchers
from airflow_jira_etl_spark.sources.rest_datasource import register

SCHEMA = "id string, self string, key string, priority string, project_id string"
OPTS = {
    "url": "https://api/search",
    "fetcher": "airflow_jira_etl_spark.sources.fixture_fetchers:synthetic_issues_fetcher",
    "schema_ddl": SCHEMA,
    "records_key": "issues",
    "param_columns": "priority,project_id",
}


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register(spark)


def _read(spark):
    return spark.read.format("paged_rest").options(**OPTS).load()


def test_full_scan_all_pages(spark):
    df = _read(spark)
    assert df.count() == fixture_fetchers.TOTAL
    ids = sorted(int(r.id) for r in df.collect())
    assert ids == list(range(fixture_fetchers.TOTAL))
    # fan-out: one partition per offset page
    assert df.rdd.getNumPartitions() == -(-fixture_fetchers.TOTAL // fixture_fetchers.STRIDE)


def test_missing_fields_are_null(spark):
    df = _read(spark)
    row = df.collect()[0]
    assert row.key.startswith("PROJ-")
    assert row.self.startswith("https://")


def test_filter_pushdown_to_api_params(spark):
    df = _read(spark).where("priority = 'high'")
    rows = df.collect()
    # the synthetic server filters server-side: 'high' = even ids
    assert len(rows) == -(-fixture_fetchers.TOTAL // 2)
    assert all(int(r.id) % 2 == 0 for r in rows)
    # pushdown shrinks total -> fewer offset partitions than full scan
    assert df.rdd.getNumPartitions() < -(-fixture_fetchers.TOTAL // fixture_fetchers.STRIDE)


def test_residual_filter_still_applied(spark):
    # LIKE is not pushable -> Spark evaluates it post-scan
    df = _read(spark).where("priority = 'low'").where("key LIKE 'PROJ-1%'")
    assert all(r.key.startswith("PROJ-1") and r.priority == "low" for r in df.collect())


def test_typed_ddl_passes_raw_values_through(spark):
    """Non-string DDLs: typed record values (int, bool) must reach Spark
    RAW — the old encoder JSON-stringified every non-string value, so an
    IntegerType field received "5" and the read crashed. STRING fields
    still JSON-encode structured values (nested dicts)."""
    df = (
        spark.read.format("paged_rest")
        .options(
            url="https://api/search",
            fetcher="airflow_jira_etl_spark.sources.fixture_fetchers:typed_issues_fetcher",
            schema_ddl="id int, key string, flagged boolean, fields string",
            records_key="issues",
        )
        .load()
    )
    rows = {r.id: r for r in df.collect()}
    assert len(rows) == fixture_fetchers.TOTAL
    assert rows[5].id == 5 and rows[5].flagged is False
    assert rows[4].flagged is True
    import json

    assert json.loads(rows[3].fields) == {"rank": 30}


def test_totalless_endpoint_single_page(spark):
    """An endpoint reporting no ``total`` (A4 single-page shape): the
    batch read returns page 0 in one partition, never zero."""
    opts = {
        "url": "https://api/users",
        "fetcher": "airflow_jira_etl_spark.sources.fixture_fetchers:totalless_fetcher",
        "schema_ddl": "id string, key string",
        "records_key": "issues",
    }
    batch = spark.read.format("paged_rest").options(**opts).load()
    assert batch.count() == fixture_fetchers.SINGLE_PAGE_N
    assert batch.rdd.getNumPartitions() == 1


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


def test_conform_rejects_missing_declared_column(spark):
    """conform() is shared by the batch loader AND the streaming source
    — a drifted frame lacking a declared column must raise the explicit
    ValueError from conform itself, not a KeyError."""
    from pyspark.sql import types as T

    from airflow_jira_etl_spark.catalog import conform

    declared = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("v", T.LongType()),
        ]
    )
    raw = spark.createDataFrame([(1,)], "v long")
    with pytest.raises(ValueError, match="lacks declared columns"):
        conform(raw, declared)


def test_page_plan_rejects_non_positive_stride():
    """A server replying maxResults=-1 ('unlimited' convention) would
    silently yield ZERO offset partitions (range step -1) — the whole
    scan returns 0 rows including the already-prefetched page 0. The
    one shared parse refuses; maxResults=0 keeps the documented
    fall-back to the default stride."""
    from airflow_jira_etl_spark.sources.paged_rest import page_plan

    with pytest.raises(ValueError, match="non-positive maxResults"):
        page_plan({"total": 137, "maxResults": -1, "issues": []})
    assert page_plan({"total": 10, "maxResults": 0}) == (10, 100)
