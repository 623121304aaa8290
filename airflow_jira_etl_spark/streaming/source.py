"""Structured Streaming source over the events fixture.

The reference's only streaming notion is micro-batches of ≤100 rows
from paginated REST responses (``worklog_processor.py:80-106``,
``limit=100`` at ``fetch_jira_tempo_worklogs.py:31``). Here the same
shape is a file-source stream consumed with the ``availableNow``
trigger: bounded input, processed as micro-batches, exactly the
batch-equivalent semantics the DuckDB oracle can check.

For multi-batch pipelines (the foreachBatch upsert), the events table
is first split into page files (the reference's pages) and streamed
with ``maxFilesPerTrigger=1`` so each page arrives as its own
micro-batch — a faithful, testable stand-in for the cursor loop.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airflow_jira_etl_spark.catalog import (
    SCHEMAS,
    conform,
    file_schema,
    glob_escape,
    source_stamp,
    table_path,
)
from airflow_jira_etl_spark.scratch import source_cache
from airflow_jira_etl_spark.session import scoped_conf


def _events_glob(sf_dir: str) -> str:
    """A glob that matches the events fixture's data files. The file
    stream source needs a directory or a glob: a plain file path fails
    ("Option 'basePath' must be a directory"), so a file-shaped fixture
    streams as ``<sf>/{events.parquet}`` and a directory-shaped one
    (Spark part-file output) as ``<dir>/*.parquet``."""
    src = os.path.abspath(table_path(sf_dir, "events"))
    if os.path.isdir(src):
        return os.path.join(glob_escape(src), "*.parquet")
    head, name = os.path.split(src)
    return os.path.join(glob_escape(head), "{" + name + "}")


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming read of the events table. A streaming source needs its
    schema up front, so the file's physical schema is sniffed with the
    batch footer reader (catalog.file_schema) and conformed to the
    declared contract — same per-file drift handling as catalog.load
    (the fixture has shipped e.g. both TIMESTAMP(NANOS) and MICROS
    across generations)."""
    from airflow_jira_etl_spark.session import ensure_runtime_confs

    ensure_runtime_confs(spark)
    # file_schema keys its cache on per-part stats for dir-shaped
    # sources (an in-place part rewrite leaves the dir stat unchanged),
    # so the sniff stays fresh across fixture regenerations here too
    actual = file_schema(spark, table_path(sf_dir, "events"))
    raw = spark.readStream.schema(actual).parquet(_events_glob(sf_dir))
    return conform(raw, SCHEMAS["events"])


def write_event_pages(
    spark: SparkSession, sf_dir: str, n_pages: int = 8
) -> tuple[str, int]:
    """Materialize the events table as ordered page files (the
    reference's paginated responses) and return ``(dir, page_size)``:
    the pages are ``dir/page_NNNNN``, ``page_size`` rows of event_id
    each. Page COUNT is fixed and page size scales with the table —
    each downstream micro-batch MERGE rewrites the table once, so total
    work is O(n_pages · n), not the O(n²/page_size) a fixed-size page
    would cost. Rows with a NULL event_id are dropped — they have no
    position in the id-derived layout (the NULL entity-key convention;
    every consumer's oracle filters event_id IS NOT NULL to match — see
    the in-body comment).

    The layout is deterministic in (source, n_pages), so it is a
    scratch.source_cache artifact: repeated streaming queries pay the
    paging cost once, and a hit runs no Spark job."""
    src = table_path(sf_dir, "events")
    ident = {
        "events": source_stamp(src),
        "n_pages": n_pages,
        # page-format version — bump when the written page schema
        # changes (v2: ts persisted as a real timestamp, not raw long;
        # v3: NULL-event_id rows dropped from the paged stream)
        "layout": 3,
    }

    def build(out_dir: str) -> dict:
        from airflow_jira_etl_spark import catalog

        # NULL-key convention (the entity-key analog of the docs
        # corpus's NULL doc_id rule): a row with a NULL event_id has no
        # position in the id-derived page layout — it cannot be paged,
        # cursor-addressed, or upsert-addressed (the reference's
        # unique-key contract, db_ops.py:29-43: a NULL unique_column
        # row is unaddressable by MERGE). Such rows are DROPPED from
        # the paged stream, on both engines: every oracle downstream of
        # this source filters event_id IS NOT NULL to match. max/min
        # skip NULLs, so the stats row already describes the kept rows.
        events = catalog.load(spark, sf_dir, "events").where(
            F.col("event_id").isNotNull()
        )
        stats = events.agg(F.max("event_id"), F.min("event_id")).collect()[0]
        max_id, min_id = stats[0], stats[1]
        if max_id is None:
            raise ValueError(
                f"events table at {src} is empty — cannot page a zero-row "
                f"stream source"
            )
        if min_id < 0:
            # page ids derive from event_id: a negative id lands below
            # page 0, outside the rename loop's range(n_pages), where
            # the _tmp cleanup would DELETE the rows silently
            raise ValueError(
                f"events.event_id must be non-negative to page "
                f"deterministically (min={min_id})"
            )
        page_size = -(-(int(max_id) + 1) // n_pages)  # ceil
        _write_pages(events, out_dir, n_pages, page_size)
        return {"page_size": page_size}

    out_dir, info = source_cache("event_pages", sf_dir, ident, build)
    return out_dir, info["page_size"]


def _write_pages(
    events: DataFrame, out_dir: str, n_pages: int, page_size: int
) -> None:
    """The build body of write_event_pages."""
    # ONE job writes every page (hash-partition on the page id -> each
    # page's rows land in exactly one task -> one file per page dir),
    # instead of n_pages sequential full-table filter+write jobs
    tmp = os.path.join(out_dir, "_tmp")
    (
        events.withColumn(
            # `div`, NOT `/`: the latter is DOUBLE division, which
            # rounds for event_id beyond 2^53 (the same hazard
            # range_bucketer documents) — and a rounded-UP id at the
            # top page boundary would land at pg == n_pages, outside
            # the rename loop, where the _tmp cleanup deletes the rows
            # silently. Integer div over the validated 0..max range is
            # exact by construction.
            "pg",
            F.format_string("%05d", F.expr(f"event_id div {page_size}")),
        )
        .repartition(n_pages, "pg")
        .write.partitionBy("pg")
        .parquet(tmp)
    )
    # rename pg=NNNNN -> page_NNNNN (drops partition-discovery syntax)
    # and stamp strictly increasing mtimes: the file stream source
    # orders files by modification time, so this pins micro-batch
    # order to cursor order deterministically
    now = int(os.path.getmtime(tmp))
    for i in range(n_pages):
        src_dir = os.path.join(tmp, f"pg={i:05d}")
        dst_dir = os.path.join(out_dir, f"page_{i:05d}")
        if not os.path.isdir(src_dir):
            continue  # empty page (no rows in range)
        os.rename(src_dir, dst_dir)
        for fn in os.listdir(dst_dir):
            os.utime(os.path.join(dst_dir, fn), (now + i, now + i))
    shutil.rmtree(tmp, ignore_errors=True)


STREAM_STATE_PARTITIONS = "4"


def py_stateful_state_partitions(spark) -> str:
    """Shard count for PYTHON-stateful streaming stages
    (applyInPandasWithState): the per-group update function runs
    in Python workers, so the stage is compute-bound in Python and its
    wall scales with how many workers run in parallel — unlike the
    JVM stateful operators, where per-shard state-commit fixed cost
    dominates and the small STREAM_STATE_PARTITIONS default wins
    (measured: the JVM floor gets WORSE at 8 shards, while the
    pystate profile improves 4.12 s -> 3.67 s at 8). Scales with the
    session's actual core count (defaultParallelism tracks
    local[$SPARK_GRAFT_CPUS] here and executor slots on a cluster),
    never below the state default — the driver's low-core bench runs
    keep the old shard count. The // 4 divisor means the count only
    rises above the default of 4 past 16 cores: that is
    deliberate — the measured win is at 32 cores, 16 shards measured
    flat-to-worse there, and 8-16-core sessions keeping the default is
    exactly the behavior the low-core bench validated; a gentler
    divisor would need its own measurements at those widths first."""
    return str(
        max(
            int(STREAM_STATE_PARTITIONS),
            spark.sparkContext.defaultParallelism // 4,
        )
    )


def run_to_completion(
    spark, checkpoint: str, start, state_partitions: str | None = None
) -> None:
    """The ONE availableNow run lifecycle — fresh throwaway checkpoint,
    state partitions scoped for the run, blocking await, checkpoint
    removed on every exit path (crashed runs leave theirs for the
    caller's dead-session reaper). ``start`` receives the checkpoint
    path and must return the started StreamingQuery; the memory-sink
    harness below and custom sinks (foreachBatch upsert) share this so
    a lifecycle fix can never apply to one start site and miss the
    other."""
    shutil.rmtree(checkpoint, ignore_errors=True)
    try:
        # stateful streaming shard count = shuffle partitions at query
        # start, and every shard costs a state directory + task per
        # micro-batch: scope it to the state size, not the CPU count
        with scoped_conf(
            spark,
            "spark.sql.shuffle.partitions",
            state_partitions or STREAM_STATE_PARTITIONS,
        ):
            start(checkpoint).awaitTermination()
    finally:
        shutil.rmtree(checkpoint, ignore_errors=True)


def run_available_now(
    stream_df: DataFrame,
    checkpoint: str,
    name: str,
    output_mode: str = "complete",
    state_partitions: str | None = None,
) -> DataFrame:
    """Run a streaming DataFrame to completion with availableNow into a
    memory sink; return the result as a batch DataFrame.
    ``state_partitions`` overrides the engine's state-shard default for
    Python-compute-bound stateful stages (see
    py_stateful_state_partitions)."""
    spark = stream_df.sparkSession

    def start(ck: str):
        return (
            stream_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )

    run_to_completion(spark, checkpoint, start, state_partitions)
    return spark.sql(f"SELECT * FROM {name}")
