"""Pipeline orchestration — the reference's DAG layer (A14), engine-side.

The reference wires ``create_table >> fetch`` per entity in Airflow
(``/root/reference/dags/fetch_jira_tempo_worklogs.py:97-114``; defaults
:15-26). Production deployments keep Airflow and submit these as Spark
jobs (one ``SparkSubmitOperator`` per pipeline — the BASELINE.json
"spark_approach"); the engine itself only needs a thin, dependency-
ordered task runner so pipelines are testable without a scheduler.

A pipeline here = ordered tasks over a shared context:
  ensure_table >> ingest (paginated scan → flatten) >> merge (upsert)
which is exactly the reference's task graph, with the fetch/persist
loop replaced by the engine's distributed operators.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field

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
# fewer bytes. The manifest's n_buckets stays authoritative: an existing
# table keeps its layout until ``compact(n_buckets=...)`` re-buckets it.
ENTITY_N_BUCKETS = 1


@dataclass
class Task:
    name: str
    fn: Callable[[dict], None]
    upstream: list[str] = field(default_factory=list)


class Pipeline:
    """Minimal dependency-ordered task runner (topological execution,
    fail-fast). Airflow's retry/schedule layer sits above this in
    production; correctness does not depend on it (idempotent tasks)."""

    def __init__(self, name: str):
        self.name = name
        self.tasks: dict[str, Task] = {}

    def task(self, name: str, upstream: list[str] | None = None):
        def deco(fn: Callable[[dict], None]):
            if name in self.tasks:
                # silent overwrite would replace the task's fn and edges
                # and run a different DAG than authored
                raise ValueError(
                    f"duplicate task {name!r} in pipeline {self.name}"
                )
            self.tasks[name] = Task(name, fn, upstream or [])
            return fn

        return deco

    def upstream_closure(self, name: str) -> set[str]:
        """``name`` plus every transitive upstream task."""
        if name not in self.tasks:
            raise KeyError(
                f"unknown task {name!r} in {self.name}; have {sorted(self.tasks)}"
            )
        seen: set[str] = set()
        stack = [name]
        while stack:
            t = stack.pop()
            if t not in seen:
                seen.add(t)
                for u in self.tasks[t].upstream:
                    if u not in self.tasks:
                        # the scheduler-facing --task path must get the
                        # same diagnostic a full run() produces, not a
                        # bare KeyError
                        raise RuntimeError(
                            f"task {t!r} declares unknown upstream {u!r} "
                            f"in {self.name}; have {sorted(self.tasks)}"
                        )
                stack.extend(self.tasks[t].upstream)
        return seen

    def run(self, context: dict, only: str | None = None) -> list[str]:
        """Execute the DAG (topological, fail-fast). With ``only``, run
        just that task and its upstream closure — the scheduler-facing
        ``--task`` contract."""
        wanted = self.upstream_closure(only) if only else set(self.tasks)
        done: list[str] = []
        remaining = {n: t for n, t in self.tasks.items() if n in wanted}
        while remaining:
            ready = [
                t for t in remaining.values() if all(u in done for u in t.upstream)
            ]
            if not ready:
                raise RuntimeError(
                    f"dependency cycle or missing upstream in {self.name}: "
                    f"{sorted(remaining)}"
                )
            for t in sorted(ready, key=lambda t: t.name):
                t.fn(context)
                done.append(t.name)
                del remaining[t.name]
        return done


def worklog_pipeline(
    spark: SparkSession,
    fetcher: Fetcher,
    initial_url: str,
    table_root: str,
    unique_column: str = "tempo_worklog_id",
) -> Pipeline:
    """The worklogs DAG re-expressed: ensure table >> paginated ingest
    >> keyed merge (unique key ``tempo_worklog_id``, mirroring the DDL's
    UNIQUE column at ``fetch_jira_tempo_worklogs.py:81``)."""
    p = Pipeline("fetch_jira_tempo_worklogs")

    @p.task("ensure_table")
    def ensure_table(ctx: dict) -> None:
        ctx["table"] = ParquetUpsertTable(
            spark,
            os.path.join(table_root, "worklogs"),
            key=unique_column,
            n_buckets=ENTITY_N_BUCKETS,
        )

    @p.task("ingest_pages", upstream=["ensure_table"])
    def ingest_pages(ctx: dict) -> None:
        # LAZY: the cursor generator flows through the context and each
        # page becomes an (Arrow LocalRelation) DataFrame only when
        # merge_upsert reaches it — peak driver memory stays O(page),
        # matching the reference's fetch-then-persist loop
        # (worklog_processor.py:80-106). The previous list
        # comprehension exhausted the whole cursor up front, pinning
        # EVERY page's rows in driver-held plans until the merge task
        # finished: O(total extract) driver memory, an OOM on a long
        # backfill.
        ctx["batches"] = (
            records_to_flat_df(spark, page, WORKLOG_MAPPING)
            for page in cursor_scan(fetcher, initial_url)
            if page
        )

    @p.task("merge_upsert", upstream=["ingest_pages"])
    def merge_upsert(ctx: dict) -> None:
        for batch in ctx["batches"]:
            ctx["table"].apply(batch)

    return p


def issues_pipeline(
    spark: SparkSession,
    fetcher: Fetcher,
    url: str,
    table_root: str,
    unique_column: str = "issue_id",
) -> Pipeline:
    """The issues DAG: offset pagination fans out across executors
    (A3 parallelism, ``issue_processor.py:114-167``); the whole extract
    lands as ONE distributed DataFrame and ONE merge."""
    p = Pipeline("fetch_jira_issues")

    @p.task("ensure_table")
    def ensure_table(ctx: dict) -> None:
        ctx["table"] = ParquetUpsertTable(
            spark,
            os.path.join(table_root, "issues"),
            key=unique_column,
            n_buckets=ENTITY_N_BUCKETS,
        )

    @p.task("ingest_fanout", upstream=["ensure_table"])
    def ingest_fanout(ctx: dict) -> None:
        raw = offset_scan_parallel(spark, fetcher, url, records_key="issues")
        ctx["flat"] = raw_json_to_flat(raw, ISSUE_MAPPING, ISSUE_LEAF_TYPES)

    @p.task("merge_upsert", upstream=["ingest_fanout"])
    def merge_upsert(ctx: dict) -> None:
        ctx["table"].apply(ctx["flat"])

    return p


def users_pipeline(
    spark: SparkSession,
    fetcher: Fetcher,
    url: str,
    table_root: str,
    unique_column: str = "account_id",
) -> Pipeline:
    """The users DAG: single-page scan (A4, ``users_processor.py:53-95``)."""
    p = Pipeline("fetch_jira_users")

    @p.task("ensure_table")
    def ensure_table(ctx: dict) -> None:
        ctx["table"] = ParquetUpsertTable(
            spark,
            os.path.join(table_root, "users"),
            key=unique_column,
            n_buckets=ENTITY_N_BUCKETS,
        )

    @p.task("ingest_page", upstream=["ensure_table"])
    def ingest_page(ctx: dict) -> None:
        records = single_page_scan(fetcher, url)
        ctx["flat"] = records_to_flat_df(spark, records, USER_MAPPING)

    @p.task("merge_upsert", upstream=["ingest_page"])
    def merge_upsert(ctx: dict) -> None:
        ctx["table"].apply(ctx["flat"])

    return p


def parse_args(argv: list[str] | None = None):
    """The CLI surface the orchestration DAG specs submit against —
    kept as its own function so spec args are contract-testable without
    starting Spark."""
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--entity", required=True,
                    choices=["tempo_worklogs", "issues", "users"])
    ap.add_argument(
        "--task",
        default="all",
        help="run only this task and its upstream closure ('all' = whole DAG)",
    )
    ap.add_argument("--url", default="https://api/search")
    ap.add_argument(
        "--fetcher",
        default=None,
        help="dotted factory path '(options) -> fetch'; defaults to the "
        "entity's SHAPE-matched in-repo emulator (production passes "
        "sources/paged_rest:http_fetcher_factory)",
    )
    # absolute default: the DAG specs submit each task as its own
    # spark-submit whose working directory is scheduler-dependent — a
    # relative root would fragment one table across worker cwds
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
    pipeline.run({}, only=None if ns.task == "all" else ns.task)


if __name__ == "__main__":
    main()
