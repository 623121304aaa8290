"""Custom Python DataSource: paginated REST as a first-class Spark source.

``spark.read.format("paged_rest")`` with:

* **offset-partition fan-out** — page 0 is fetched at planning time to
  learn ``total``/``maxResults`` (the reference's A3 capture,
  ``issue_processor.py:141-142``); every further offset becomes its own
  ``InputPartition``, so the scan parallelizes across executors instead
  of the reference's serial while-loop;
* **filter pushdown to the API** (SURVEY.md §4.2-1) — ``pushFilters``
  translates ``EqualTo`` predicates on declared parameter columns into
  API query params (the reference forwards ``projectId``/``issueId``
  the same way, ``fetch_jira_tempo_worklogs.py:60-63``), shrinking
  ``total`` — and therefore the partition count — at the source;
* **pluggable fetch** — the ``fetcher`` option is a dotted path to a
  factory ``(options) -> fetch(url, params)``; production wires
  ``sources/paged_rest:http_fetcher_factory`` (reads auth_scheme/
  token_env from the options), tests a deterministic emulator
  (sources/fixture_fetchers).

Options:
  url           endpoint URL (required)
  fetcher       "pkg.module:factory" (required)
  schema_ddl    flat output schema, e.g. "id string, key string" —
                record fields are read by field name, missing -> NULL
  records_key   key holding the record list (default "issues")
  param_columns comma-separated columns eligible for pushdown

Batch reads only: the stream queries page through file-backed sources
(streaming/source.py), so this source has no stream reader.
"""

from __future__ import annotations

import importlib
import json
from collections.abc import Iterable, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    InputPartition,
)
from pyspark.sql.types import StringType, StructType

from airflow_jira_etl_spark.sources.paged_rest import page_plan, with_retry


def _load_fetcher(spec: str, options: dict):
    mod_name, _, fn_name = spec.partition(":")
    factory = getattr(importlib.import_module(mod_name), fn_name)
    return factory(options)


def _string_cell(v):
    """The ONE flatten rule for a STRING-typed cell: None and str pass
    through, anything structured lands as its JSON text."""
    return v if v is None or isinstance(v, str) else json.dumps(v)


class _OffsetPartition(InputPartition):
    def __init__(self, start_at: int, prefetched: list[dict] | None = None):
        self.start_at = start_at
        # page 0's records ride along from the planning fetch (pickled
        # into the partition) so the scan never fetches the same page
        # twice — one fewer API round trip per scan
        self.prefetched = prefetched


class PagedRestReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self.schema = schema
        self.options = dict(options)
        self.url = options["url"]
        self.fetcher_spec = options["fetcher"]
        self.records_key = options.get("records_key", "issues")
        self.param_columns = [
            c for c in options.get("param_columns", "").split(",") if c
        ]
        self.api_params: dict[str, str] = {}

    def pushFilters(self, filters: list[Filter]) -> Iterable[Filter]:  # noqa: N802
        """Consume EqualTo filters on declared param columns; everything
        else is returned for Spark to evaluate post-scan."""
        remaining = []
        for f in filters:
            if (
                isinstance(f, EqualTo)
                and len(f.attribute) == 1
                and f.attribute[0] in self.param_columns
                and isinstance(f.value, str)
            ):
                self.api_params[f.attribute[0]] = f.value
            else:
                remaining.append(f)
        return remaining

    def partitions(self) -> Sequence[InputPartition]:
        fetch = _load_fetcher(self.fetcher_spec, self.options)
        params = dict(self.api_params)
        params["startAt"] = 0
        first = with_retry(lambda: fetch(self.url, params))
        total, stride = page_plan(first)
        # a total-less response is the A4 single-page shape: one
        # partition carrying the prefetched page, never zero partitions
        offsets = list(range(0, max(total or 0, 1), stride))
        return [
            _OffsetPartition(
                o, prefetched=first.get(self.records_key, []) if o == 0 else None
            )
            for o in offsets
        ]

    def read(self, partition: _OffsetPartition):
        if partition.prefetched is not None:
            records = partition.prefetched
        else:
            fetch = _load_fetcher(self.fetcher_spec, self.options)
            params = dict(self.api_params)
            params["startAt"] = partition.start_at
            page = with_retry(lambda: fetch(self.url, params))
            records = page.get(self.records_key, [])
        # One Arrow batch per page instead of per-row tuple yields: the
        # harness then ships the whole page through one Arrow transfer
        # (tuple rows are individually pickled — the slow path once
        # pages are thousands of rows). STRING fields go through
        # _string_cell (a nested object lands as its JSON text); TYPED
        # fields pass raw values to Arrow's conversion, which refuses a
        # value of the wrong type (e.g. "5" for an int) instead of
        # coercing it.
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(self.schema)
        cols = []
        for f, af in zip(self.schema.fields, arrow_schema):
            cells = [rec.get(f.name) for rec in records]
            if isinstance(f.dataType, StringType):
                cells = [_string_cell(v) for v in cells]
            cols.append(pa.array(cells, af.type))
        yield pa.RecordBatch.from_arrays(cols, schema=arrow_schema)


class PagedRestDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "paged_rest"

    def schema(self) -> str:
        return self.options.get("schema_ddl", "id string, self string, key string")

    def reader(self, schema: StructType) -> PagedRestReader:
        return PagedRestReader(schema, self.options)


def register(spark) -> None:
    spark.dataSource.register(PagedRestDataSource)
