"""Pipeline orchestration — the reference's DAG layer (A14), engine-side.

The reference wires ``create_table >> fetch`` per entity in Airflow
(``/root/reference/dags/fetch_jira_tempo_worklogs.py:97-114``; defaults
:15-26). Production deployments keep Airflow and submit each pipeline
as ONE Spark job (one ``SparkSubmitOperator`` per pipeline — the
BASELINE.json "spark_approach"; see ``orchestration``); the engine
itself only runs the pipeline, so pipelines are testable without a
scheduler.

Every pipeline is the same run in one process:
  open table >> ingest (paginated scan → flatten) >> merge >> vacuum
The reference's separate create-table task has no counterpart: its SQL
table had to exist before the INSERTs, while the sink here creates the
table at its first commit.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

from airflow_jira_etl_spark.entities import (
    ISSUE_LEAF_TYPES,
    ISSUE_MAPPING,
    USER_MAPPING,
    WORKLOG_MAPPING,
)
from airflow_jira_etl_spark.sinks.parquet_upsert import ParquetUpsertTable
from airflow_jira_etl_spark.scratch import SCRATCH as _SCRATCH_DEFAULT
from airflow_jira_etl_spark.sources.paged_rest import (
    Fetcher,
    cursor_scan,
    offset_scan_parallel,
    raw_json_to_flat,
    records_to_flat_df,
    single_page_scan,
)

# per-entity emulator defaults: each entity's endpoint SHAPE differs
# (offset pages / bare list / cursor pages), so one shared default
# fetcher crashes users and silently zero-row-ingests worklogs
_FETCHER_DEFAULTS = {
    "issues": (
        "airflow_jira_etl_spark.sources.fixture_fetchers:"
        "synthetic_issues_fetcher"
    ),
    "users": (
        "airflow_jira_etl_spark.sources.fixture_fetchers:"
        "synthetic_users_fetcher"
    ),
    "tempo_worklogs": (
        "airflow_jira_etl_spark.sources.fixture_fetchers:"
        "synthetic_worklogs_fetcher"
    ),
}


# Entity tables start with ONE bucket. The sink sizes a bucket at about
# one 128 MB parquet file (sinks/parquet_upsert.py), and at the
# reference's full page counts these tables are far below that. Measured
# on a seeded emulator of the three endpoints: ~1.7 MB of issues (200
# pages x 100, ~83 B/row), ~0.3 MB of worklogs (20 pages x 1000 records
# over ~9k distinct keys, ~35 B/row) and ~41 KB of users (2000, ~21
# B/row). Every page's keys already spread over every bucket, so more
# buckets only multiply the files and tasks per apply without rewriting
# fewer bytes. One bucket also makes each apply a single Spark job: the
# sink skips its dirty-set job and batch checkpoint and merges in one
# task with no shuffle. The manifest's n_buckets stays authoritative: an
# existing table keeps its layout until ``compact(n_buckets=...)``
# re-buckets it.
ENTITY_N_BUCKETS = 1


class Pipeline:
    """One entity pipeline: open the keyed table, merge every batch of
    ``ingest()`` into it in order, then reclaim old generations.
    Airflow's retry/schedule layer sits above this in production;
    correctness does not depend on it (a re-run is an idempotent
    replay)."""

    def __init__(
        self,
        spark: SparkSession,
        table_path: str,
        key: str,
        ingest: Callable[[], Iterable[DataFrame]],
    ):
        self._spark = spark
        self._table_path = table_path
        self._key = key
        # the flat batches to merge, in order; lazy where the scan is
        self.ingest = ingest

    def run(self, context: dict) -> None:
        """Open the table (``context["table"]``), merge every batch and
        vacuum. Each apply into a one-bucket table writes a full copy as
        a new generation, so without the vacuum storage grows by one
        table copy per page, run over run; two generations keep the
        previous state readable through the last commit."""
        table = context["table"] = ParquetUpsertTable(
            self._spark, self._table_path, key=self._key, n_buckets=ENTITY_N_BUCKETS
        )
        for batch in self.ingest():
            table.apply(batch)
        table.vacuum(retain_last=2)


# The builders below call the scan and flatten functions through this
# module's globals at call time, so a wrapper installed on the module
# (a tracer) sees every call.


def worklog_pipeline(
    spark: SparkSession,
    fetcher: Fetcher,
    initial_url: str,
    table_root: str,
    unique_column: str = "tempo_worklog_id",
) -> Pipeline:
    """The worklogs DAG re-expressed: paginated ingest >> keyed merge
    (unique key ``tempo_worklog_id``, mirroring the DDL's
    UNIQUE column at ``fetch_jira_tempo_worklogs.py:81``)."""

    def ingest():
        # LAZY: each cursor page becomes an (Arrow LocalRelation)
        # DataFrame only when the merge reaches it, so peak driver
        # memory stays O(page), matching the reference's
        # fetch-then-persist loop (worklog_processor.py:80-106)
        return (
            records_to_flat_df(spark, page, WORKLOG_MAPPING)
            for page in cursor_scan(fetcher, initial_url)
            if page
        )

    return Pipeline(spark, os.path.join(table_root, "worklogs"), unique_column, ingest)


def issues_pipeline(
    spark: SparkSession,
    fetcher: Fetcher,
    url: str,
    table_root: str,
    unique_column: str = "issue_id",
) -> Pipeline:
    """The issues DAG: offset pagination fetches its pages concurrently
    on driver threads (A3 parallelism, ``issue_processor.py:114-167``);
    the whole extract lands as ONE DataFrame and ONE merge."""

    def ingest():
        raw = offset_scan_parallel(spark, fetcher, url, records_key="issues")
        return [raw_json_to_flat(raw, ISSUE_MAPPING, ISSUE_LEAF_TYPES)]

    return Pipeline(spark, os.path.join(table_root, "issues"), unique_column, ingest)


def users_pipeline(
    spark: SparkSession,
    fetcher: Fetcher,
    url: str,
    table_root: str,
    unique_column: str = "account_id",
) -> Pipeline:
    """The users DAG: single-page scan (A4, ``users_processor.py:53-95``)."""

    def ingest():
        return [records_to_flat_df(spark, single_page_scan(fetcher, url), USER_MAPPING)]

    return Pipeline(spark, os.path.join(table_root, "users"), unique_column, ingest)


def parse_args(argv: list[str] | None = None):
    """The CLI surface the orchestration DAG specs submit against —
    kept as its own function so spec args are contract-testable without
    starting Spark."""
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--entity", required=True,
                    choices=["tempo_worklogs", "issues", "users"])
    ap.add_argument("--url", default="https://api/search")
    ap.add_argument(
        "--fetcher",
        default=None,
        help="dotted factory path '(options) -> fetch'; defaults to the "
        "entity's SHAPE-matched in-repo emulator (production passes "
        "sources/paged_rest:http_fetcher_factory)",
    )
    # absolute default: each DAG run is its own spark-submit whose
    # working directory is scheduler-dependent — a relative root would
    # fragment one table across worker cwds
    ap.add_argument(
        "--table-root",
        default=os.path.join(_SCRATCH_DEFAULT, "pipeline_tables"),
    )
    ap.add_argument(
        "--unique-column",
        default=None,
        help="upsert key override; defaults to the entity's natural key",
    )
    return ap.parse_args(argv)


def main(argv: list[str] | None = None) -> None:
    """CLI entry point the orchestration DAG specs submit
    (``spark-submit`` on this file). Wires the entity pipeline named by
    ``--entity``; the fetcher comes from ``--fetcher`` (dotted factory
    path, defaulting to the in-repo emulator so the wiring is runnable
    anywhere)."""
    import importlib

    from airflow_jira_etl_spark.session import get_spark

    ns = parse_args(argv)

    fetcher_spec = ns.fetcher or _FETCHER_DEFAULTS[ns.entity]
    mod_name, _, fn_name = fetcher_spec.partition(":")
    fetcher = getattr(importlib.import_module(mod_name), fn_name)({})
    spark = get_spark(f"pipeline-{ns.entity}")
    builders = {
        "tempo_worklogs": worklog_pipeline,
        "issues": issues_pipeline,
        "users": users_pipeline,
    }
    kwargs = {"unique_column": ns.unique_column} if ns.unique_column else {}
    pipeline = builders[ns.entity](spark, fetcher, ns.url, ns.table_root, **kwargs)
    pipeline.run({})


if __name__ == "__main__":
    main()
