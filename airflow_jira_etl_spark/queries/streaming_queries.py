"""Structured Streaming — SURVEY.md §2B "Streaming".

Each query runs a REAL streaming job (``readStream`` → transform →
``writeStream`` with the ``availableNow`` trigger) to completion and
returns the result as a batch DataFrame, so the driver's DuckDB oracle
checks the batch-equivalent output. The stream source is the events
table — the stand-in for the reference's paginated micro-batch loop
(``worklog_processor.py:80-106``).

Scale notes: windowed/session aggregations keep state per (key,
window) in the state store and emit on watermark; the same code runs
unbounded on a real source (kafka) — availableNow is just the bounded
test harness.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airflow_jira_etl_spark import catalog
from airflow_jira_etl_spark.functions.rounding import fround
from airflow_jira_etl_spark.registry import query
from airflow_jira_etl_spark.sinks.parquet_upsert import ParquetUpsertTable
from airflow_jira_etl_spark.streaming.source import (
    read_events_stream,
    run_available_now,
    run_to_completion,
    write_event_pages,
)

from airflow_jira_etl_spark.scratch import session_scratch


def _ck(name: str) -> str:
    """Per-SESSION checkpoint path: keyed by pid so concurrent sessions
    never delete each other's live streaming checkpoints; dead
    sessions' leftovers are reaped by session_scratch, live runs clean
    up after themselves in run_available_now."""
    return session_scratch("checkpoints", name)


@query(
    "stream_tumbling_count",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           event_type,
           count(*) AS n_events
    FROM events
    WHERE ts IS NOT NULL  -- event-time windows drop NULL event times
    GROUP BY 1, 2
    """,
)
def stream_tumbling_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event counts per type — the micro-batch page
    analog of the reference's cursor loop (A2), as a streaming window
    aggregate."""
    agg = (
        read_events_stream(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    return run_available_now(agg, _ck("tumbling"), "stream_tumbling_out")


@query(
    "stream_sliding_avg",
    oracle="""
    WITH expanded AS (
        SELECT make_timestamp(
                 (CAST(floor(epoch(ts) / 900) AS BIGINT) * 900 - i.i * 900) * 1000000
               ) AS window_start,
               value
        FROM events, (SELECT unnest([0, 1, 2, 3]) AS i) AS i
        WHERE ts IS NOT NULL  -- event-time windows drop NULL event times
    )
    SELECT window_start,
           count(*) AS n_events,
           round(avg(value) + 1e-9, 4) AS avg_value
    FROM expanded
    GROUP BY 1
    """,
)
def stream_sliding_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1 h window, 15 min slide): every event lands in
    4 overlapping windows. The oracle expands the slides explicitly."""
    agg = (
        read_events_stream(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour", "15 minutes"))
        .agg(
            F.count("*").alias("n_events"),
            fround(F.avg("value")).alias("avg_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "n_events",
            "avg_value",
        )
    )
    return run_available_now(agg, _ck("sliding"), "stream_sliding_out")


@query(
    "stream_session_window",
    oracle="""
    WITH ev AS (
        -- CAST mirrors the Spark side's micro-precision contract
        -- (catalog.conform truncates a TIMESTAMP(NANOS) fixture to
        -- micros): the 30-min gap predicate must compare the SAME
        -- precision on both engines, or a sub-microsecond remainder
        -- flips a session boundary only on one side
        SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS ts
        FROM events
        WHERE ts IS NOT NULL  -- event-time sessions drop NULL event times
    ),
    flagged AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_sess
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        -- the ROWS frame needs the SAME tie-broken total order as the
        -- flagged CTE: without event_id, a new_sess=0 row tied on ts
        -- with the boundary row could be summed first and land in the
        -- PREVIOUS session (order among ties is unspecified)
        SELECT *, sum(new_sess) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM flagged
    )
    SELECT user_id,
           min(ts) AS session_start,
           count(*) AS n_events,
           round(sum(value) + 1e-9, 4) AS sum_value
    FROM sessions
    GROUP BY user_id, sess_id
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a 30-min inactivity gap per user — Spark's
    native ``session_window`` state merging vs the batch
    gaps-and-islands oracle (the risky equivalence SURVEY.md §7 flags)."""
    agg = (
        read_events_stream(spark, sf_dir)
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            fround(F.sum("value")).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )
    return run_available_now(agg, _ck("session"), "stream_session_out")


@query(
    "stream_watermark_late",
    oracle="""
    WITH agg AS (
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
               event_type,
               count(*) AS n_events
        FROM events
        GROUP BY 1, 2
    ),
    wm AS (
        SELECT CAST(max(ts) AS TIMESTAMP) - INTERVAL 10 MINUTE AS w FROM events
    )
    SELECT window_start, event_type, n_events
    FROM agg, wm
    WHERE window_start + INTERVAL 1 HOUR <= wm.w
    """,
)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark + late-data handling (the reference's out-of-order
    page replays, SURVEY.md §2A idempotency note): 10-minute watermark
    on 1-hour tumbling windows, append output — only windows the
    watermark has closed are emitted. Append-mode emission IS
    batch-expressible for a bounded run: the final watermark is
    max(event time) - 10 min, and exactly the windows whose END the
    watermark has passed are emitted — the oracle computes that
    closed-window set directly. The subset property against the
    unfiltered batch agg stays asserted in tests/test_streaming.py.
    Boundary measured, not assumed: Spark's append mode DOES emit a
    window whose end equals the final watermark exactly (max ts on
    hh:10:00.000000 → wm hh:00:00 → window ending hh:00:00 emitted),
    matching the oracle's ``window_end <= wm`` inclusively."""
    stream = read_events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = (
        stream.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    return run_available_now(
        agg, _ck("watermark"), "stream_watermark_out", output_mode="append"
    )


@query(
    "stream_dedup_keys",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup on a key set — the upsert-key semantics of the
    reference's sink (A8) in stream form: ``dropDuplicates`` keeps
    per-key state so replayed pages can't double-count. Output is the
    key set (arrival-order-independent, hence oracle-checkable)."""
    dedup = (
        read_events_stream(spark, sf_dir)
        .select("user_id", "event_type")
        .dropDuplicates(["user_id", "event_type"])
    )
    return run_available_now(
        dedup, _ck("dedup"), "stream_dedup_out", output_mode="append"
    )


@query(
    "stream_stateful_profile",
    # the NaN wraps pin the PANDAS-BRIDGE convention (measured; same
    # contract as udaf_grouped_agg's oracle): the
    # stateful operator's per-user sums/maxes run in pandas, and a NaN
    # reaching the Arrow transfer back to Spark arrives as NULL, while
    # the SQL mirror keeps NaN — a drifted fixture with one NaN value
    # would hash-mismatch NULL-vs-NaN on both value columns. Infinity
    # crosses the bridge intact on both engines.
    oracle="""
    SELECT user_id, n_events,
           CASE WHEN isnan(total_value) THEN NULL
                ELSE total_value END AS total_value,
           CASE WHEN isnan(peak_value) THEN NULL
                ELSE peak_value END AS peak_value
    FROM (
        SELECT user_id,
               count(*) AS n_events,
               round(sum(value) + 1e-9, 4) AS total_value,
               round(max(value) + 1e-9, 4) AS peak_value
        FROM events
        WHERE event_id IS NOT NULL  -- dropped by the paged source
                                    -- (streaming/source.py, r15)
        GROUP BY user_id
    )
    """,
)
def stream_stateful_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState,
    streaming/stateful.py): per-user running profile carried across
    micro-batches — the events table is paged into files streamed one
    per batch, so state genuinely crosses batch boundaries. Each
    emission carries the user's cumulative event COUNT, which strictly
    increases across that user's emissions — the natural batch ordinal —
    so the final state is max_by(value, n_events), correct even for
    value columns that could go negative (sums are NOT assumed
    monotone)."""
    from airflow_jira_etl_spark.streaming.stateful import running_user_profile

    # same page layout as the foreachBatch/MV queries — one shared
    # materialization per sweep, not one per query
    pages_dir, _ = write_event_pages(spark, sf_dir, n_pages=4)
    # pages are written from catalog.load output (layout v2): ts is a
    # real timestamp column regardless of the source fixture's unit
    stream = (
        spark.readStream.schema(catalog.SCHEMAS["events"])
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(pages_dir, "page_*"))
    )
    profile = running_user_profile(stream)
    from airflow_jira_etl_spark.streaming.source import (
        py_stateful_state_partitions,
    )

    out = run_available_now(
        profile,
        _ck("stateful"),
        "stream_stateful_out",
        output_mode="update",
        # Python-compute-bound stateful stage: shards scale with cores
        # (see py_stateful_state_partitions — the JVM stateful queries
        # keep the small state default)
        state_partitions=py_stateful_state_partitions(spark),
    )
    return out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        fround(F.max_by("total_value", "n_events")).alias("total_value"),
        fround(F.max_by("peak_value", "n_events")).alias("peak_value"),
    )


@query(
    "stream_foreachbatch_upsert",
    oracle="""
    SELECT event_id, user_id, event_type,
           round(value + 1e-9, 4) AS value
    FROM events
    WHERE event_id IS NOT NULL  -- a NULL key cannot be upsert-addressed
                                -- (reference db_ops.py:29-43; the paged
                                -- source drops it, streaming/source.py)
    """,
)
def stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end A2→A8 pipeline: the events table is paged out as
    ordered files (the reference's paginated responses), streamed one
    page per micro-batch, and each batch MERGEd into a parquet upsert
    table (sinks/parquet_upsert: dirty-bucket copy-on-write + manifest
    commit). Cursor pages are CONTIGUOUS key ranges, so the table uses
    a range bucketer — each micro-batch dirties only the buckets its
    key span covers, and bytes written per batch stay proportional to
    the batch, not the table. The final table state equals the full
    input — the reference's idempotent-replay invariant made
    observable."""
    from airflow_jira_etl_spark.sinks.parquet_upsert import range_bucketer

    # per-SESSION table dir (sf tag + pid): the returned DataFrame reads
    # these files lazily, so the dir must outlive this call — but a
    # shared name would let a concurrent session destroy() the table
    # under this session's running MERGE. Dead sessions' dirs are reaped.
    tag = os.path.basename(os.path.normpath(sf_dir))
    table_dir = session_scratch("upsert_tables", tag)
    # 4 pages = 4 real micro-batches: enough to exercise cross-batch
    # merge + manifest chaining; per-batch harness latency is the cost
    pages_dir, page_size = write_event_pages(spark, sf_dir, n_pages=4)
    # bucket width = 1/8 page -> a page dirties ~8 buckets; ~32 total
    bucketer = range_bucketer(max(page_size // 8, 1))
    table = ParquetUpsertTable(
        spark, table_dir, key="event_id", bucketer=bucketer
    )
    table.destroy()  # fresh run: destroy leaves an empty, usable root

    raw = (
        spark.readStream.schema(catalog.SCHEMAS["events"])
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(pages_dir, "page_*"))
        .select(
            "event_id",
            "user_id",
            "event_type",
            fround(F.col("value")).alias("value"),
        )
    )

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        table.apply(batch_df)

    def start(ck: str):
        return (
            raw.writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )

    run_to_completion(spark, _ck("foreachbatch"), start)
    # maintenance pass, the full table lifecycle: compaction re-points
    # every bucket at one generation (the per-page merges left the live
    # manifest scattered across one generation per micro-batch), then
    # vacuum reclaims everything the compacted manifest no longer
    # references — bounded storage across repeated runs
    table.compact()
    table.vacuum(retain_last=1)
    return table.read()


@query(
    "stream_static_enrich",
    oracle="""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value) + 1e-9, 4) AS total_value
    FROM events
    JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join — the dimension-lookup pattern
    every event pipeline needs: the unbounded event stream joins a
    STATIC customer table (no state kept for the static side; Spark
    re-plans it per micro-batch and broadcasts it under the join
    threshold), then aggregates per segment. The batch oracle is the
    same join+agg — stream-static inner joins are exactly
    batch-equivalent, unlike stream-stream joins."""
    customer = catalog.load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    enriched = (
        read_events_stream(spark, sf_dir)
        .join(customer, F.col("user_id") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            fround(F.sum("value")).alias("total_value"),
        )
    )
    return run_available_now(enriched, _ck("static_enrich"), "stream_enrich_out")


@query(
    "stream_stream_interval_join",
    oracle="""
    -- ev casts ts to micro precision BEFORE the interval predicates:
    -- Spark joins on conform-truncated micros, so comparing raw
    -- TIMESTAMP_NS here would flip boundary pairs whose order differs
    -- only below the microsecond on a nanos fixture generation
    WITH ev AS (
        SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        FROM events
    )
    SELECT v.event_id AS view_id,
           p.event_id AS purchase_id,
           v.user_id AS user_id,
           v.ts AS view_ts,
           p.ts AS purchase_ts
    FROM ev v
    JOIN ev p
      ON v.user_id = p.user_id
     AND v.event_type = 'view'
     AND p.event_type = 'purchase'
     AND p.ts >= v.ts
     AND p.ts <= v.ts + INTERVAL 2 HOUR
    """,
)
def stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream INNER join with an event-time interval condition —
    the attribution join (view → purchase within 2 h by the same user)
    every event pipeline needs, and the one Structured Streaming
    operator class the suite didn't yet cover. Both sides carry
    watermarks and the join predicate bounds purchase_ts relative to
    view_ts, so Spark can size the join state and evict rows once the
    watermark passes view_ts + 2 h — unbounded-safe, not an
    accumulate-everything join. For a bounded availableNow run an
    inner stream-stream join emits exactly the batch join result, so
    the DuckDB oracle is the plain interval self-join."""
    views = (
        read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "10 minutes")
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "10 minutes")
    )
    joined = views.join(
        purchases,
        F.expr(
            """
            v_user = p_user
            AND purchase_ts >= view_ts
            AND purchase_ts <= view_ts + INTERVAL 2 HOURS
            """
        ),
    ).select(
        "view_id",
        "purchase_id",
        F.col("v_user").alias("user_id"),
        "view_ts",
        "purchase_ts",
    )
    return run_available_now(
        joined, _ck("ss_interval_join"), "stream_ssj_out", output_mode="append"
    )


@query(
    "stream_tumbling_topk",
    oracle="""
    WITH counts AS (
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
               event_type, count(*) AS n_events
        FROM events
        WHERE ts IS NOT NULL  -- event-time windows drop NULL event times
        GROUP BY 1, 2
    )
    SELECT window_start, event_type, n_events, CAST(rnk AS INTEGER) AS rnk
    FROM (
        SELECT *, row_number() OVER (PARTITION BY window_start
                                     ORDER BY n_events DESC, event_type) AS rnk
        FROM counts
    ) r WHERE rnk <= 2
    """,
)
def stream_tumbling_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-k: tumbling 1-hour counts per event type maintain
    incrementally in the stream (the only part that must be
    streaming — state is |windows|x|types|), and the top-2 ranking runs
    on the RESULT table at read time. Ranking inside the stream would
    force complete-mode re-emission of every window on every batch;
    rank-at-serve touches only output-sized data and is the standard
    lambda-free split. Tie-break (count desc, then type) is total, so
    the top-2 set is deterministic."""
    agg = (
        read_events_stream(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    out = run_available_now(agg, _ck("tumbling_topk"), "stream_topk_out")
    from pyspark.sql import Window

    w = Window.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), "event_type"
    )
    return (
        out.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 2)
    )
