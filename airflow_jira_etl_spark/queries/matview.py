"""Incrementally-maintained aggregates (materialized-view refresh).

The reference's pipelines re-pull and re-upsert full API pages daily
(``/root/reference/dags/fetch_jira_tempo_worklogs.py:96-116``) — the
downstream analytics tables are effectively recomputed views. The
scale-correct version never rescans the fact table: each arriving batch
folds its PARTIAL aggregates into the stored per-key state with an
associative combine (operators/upsert.merge_aggregate), so refresh cost
tracks the batch, not the table. At 100 TB this is the difference
between a per-batch groupBy over gigabytes and a nightly full-table
rescan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airflow_jira_etl_spark import catalog
from airflow_jira_etl_spark.functions.rounding import fround
from airflow_jira_etl_spark.registry import query
from airflow_jira_etl_spark.sinks.parquet_upsert import ParquetUpsertTable
from airflow_jira_etl_spark.scratch import session_scratch
from airflow_jira_etl_spark.streaming.source import write_event_pages


@query(
    "mv_incremental_refresh",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           round(sum(value) + 1e-9, 4) AS total_value,
           CAST(max(ts) AS TIMESTAMP) AS last_ts
    FROM events
    WHERE event_id IS NOT NULL  -- NULL-key rows never enter the paged
                                -- stream (streaming/source.py, r15)
    GROUP BY user_id
    """,
)
def mv_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user profile MV maintained across 4 arriving pages: each
    page contributes one groupBy over ITS rows only, and the partials
    fold into the stored state via combine-merge (sum/sum/max) through
    the same bucketed copy-on-write sink the upsert queries use. The
    oracle is the full-table aggregate — incremental maintenance must
    be indistinguishable from recomputation. Raw sums live in the
    table; rounding happens once at read, so fold order can't compound
    rounding error."""
    # per-session (tag + pid): a concurrent session must not destroy()
    # this MV table mid-refresh (see airflow_jira_etl_spark.scratch)
    tag = os.path.basename(os.path.normpath(sf_dir))
    table_dir = session_scratch("mv_user_profile", tag)
    pages_dir, _ = write_event_pages(spark, sf_dir, n_pages=4)
    # null_keys="group": user_id is a GROUP BY key, and SQL aggregation
    # has a NULL group — a drifted fixture with one NULL user_id must
    # fold into it like the oracle's GROUP BY does, not refuse the
    # batch (the entity-key NULL refusal stays the default elsewhere)
    table = ParquetUpsertTable(
        spark, table_dir, key="user_id", n_buckets=8, null_keys="group"
    )
    table.destroy()  # fresh run: destroy leaves an empty, usable root
    pages = sorted(
        os.path.join(pages_dir, d)
        for d in os.listdir(pages_dir)
        if d.startswith("page_")
    )
    for page in pages:
        batch = spark.read.schema(catalog.SCHEMAS["events"]).parquet(page)
        partial = batch.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value_raw"),
            F.max("ts").alias("last_ts"),
        )
        table.apply(
            partial,
            combine={
                "n_events": "sum",
                "total_value_raw": "sum",
                "last_ts": "max",
            },
        )
    return table.read().select(
        "user_id",
        "n_events",
        fround(F.col("total_value_raw")).alias("total_value"),
        "last_ts",
    )
