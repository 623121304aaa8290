"""Scans, sources, sinks — SURVEY.md §2B "Scans, sources, sinks".

Provenance: reference operators A1/A4 (scan), A2/A3 (paginated
sources), A6 (pruning), A8-A10 (keyed upsert), A11 (DDL).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airflow_jira_etl_spark import catalog
from airflow_jira_etl_spark.functions.rounding import fround
from airflow_jira_etl_spark.operators.upsert import upsert
from airflow_jira_etl_spark.registry import query

from airflow_jira_etl_spark.scratch import session_scratch


@query(
    "scan_parquet",
    oracle="SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer",
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full table scan with a declared StructType (reference A1/A4:
    load an entity table — ``/root/reference/dags/jira/users/users_processor.py:53-95``)."""
    return catalog.load(spark, sf_dir, "customer")


@query(
    "scan_filter_prune",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1999-01-01'
      AND l_quantity > 25.0
    """,
)
def scan_filter_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan with pushed predicate + pruned columns (reference A6 drops
    unmapped keys in Python, ``jira_base_processor.py:88-91``; here
    Catalyst pushes both the filter and the 3-column projection into the
    parquet reader — verify with .explain(): PushedFilters + ReadSchema)."""
    lineitem = catalog.load(spark, sf_dir, "lineitem")
    return (
        lineitem.where(
            (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
            & (F.col("l_quantity") > 25.0)
        )
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
    )


# Fan-out width for the paged-source simulation. The reference pages
# by a FIXED size (limit=100, fetch_jira_tempo_worklogs.py:31) and
# scans serially; the Spark design inverts it — a fixed number of
# parallel fetch partitions whose size scales with `total`. A
# fixed-SIZE page at 100 TB means millions of pages and a
# million-way union plan (Catalyst chokes long before the cluster
# does); a fixed WIDTH keeps the plan constant and each partition's
# range scan prunes to its offset window.
N_PAGES = 16


@query(
    "source_paged_union",
    oracle=f"""
    WITH bounds AS (
        -- offset pagination is defined over NON-NEGATIVE ids only
        -- (a paged protocol has no page below offset 0); the domain
        -- filter is explicit on BOTH engines so a drifted fixture
        -- with a NULL/negative event_id stays comparable instead of
        -- silently disagreeing about its page
        SELECT CAST(ceil((max(event_id) + 1) / {N_PAGES}.0) AS BIGINT) AS page_size
        FROM events WHERE event_id >= 0
    )
    SELECT event_id, ts, user_id, event_type, value, props,
           CAST(floor(event_id / page_size) AS INTEGER) AS page_ord
    FROM events, bounds
    WHERE event_id >= 0
    """,
)
def source_paged_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offset-paginated source simulation (reference A3,
    ``issue_processor.py:114-167``): page 0 discovers ``total``
    (the A3 capture at :141-142), then N_PAGES offset ranges are
    fetched as independent page DataFrames and unioned with a page
    ordinal — the fan-out parallelism the serial reference loop cannot
    do. Each page filter prunes its scan to the offset range. The
    explicit ``event_id >= 0`` domain filter (both engines — see the
    oracle comment) makes the paged protocol's offset domain a stated
    contract rather than an accident of the page predicates; an empty
    (or all-out-of-domain) table raises the same loud error as the
    streaming page builder instead of a bare ``None + 1`` TypeError."""
    events = catalog.load(spark, sf_dir, "events").where(F.col("event_id") >= 0)
    max_id = events.agg(F.max("event_id")).collect()[0][0]
    if max_id is None:
        raise ValueError(
            "source_paged_union: events has no rows with event_id >= 0 "
            "— an offset-paged protocol cannot be derived from an "
            "empty source (same refusal class as write_event_pages)"
        )
    total = max_id + 1
    page_size = -(-total // N_PAGES)  # ceil
    pages = [
        events.where(
            (F.col("event_id") >= i * page_size)
            & (F.col("event_id") < (i + 1) * page_size)
        ).withColumn("page_ord", F.lit(i).cast("int"))
        for i in range(N_PAGES)
    ]
    out = pages[0]
    for p in pages[1:]:
        out = out.unionByName(p)
    return out


@query(
    "sink_upsert",
    oracle="""
    WITH updates AS (
        SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
               round(o_totalprice * 1.1, 4) AS o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 7 = 0
    ),
    merged AS (
        SELECT *, 0 AS src FROM orders
        UNION ALL
        SELECT *, 1 AS src FROM updates
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY src DESC) AS rn
        FROM merged
    )
    SELECT o_orderkey, o_custkey, o_orderstatus, round(o_totalprice, 4) AS o_totalprice,
           o_orderdate, o_orderpriority
    FROM ranked WHERE rn = 1
    """,
)
def sink_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-writer-wins keyed upsert (reference A8-A10, db_ops.py) as a
    distributed window-dedup merge — see operators/upsert.py."""
    orders = catalog.load(spark, sf_dir, "orders")
    updates = orders.where(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        F.round(F.col("o_totalprice") * 1.1, 4).alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
    )
    merged = upsert(orders, updates, "o_orderkey")
    return merged.withColumn("o_totalprice", F.round("o_totalprice", 4))


@query(
    "source_rest_datasource",
    # Table-free oracle: the API emulator is deterministic
    # (sources/fixture_fetchers.py — ids 0..136, priority 'high' for
    # even ids, key 'PROJ-{id}'), so its contract restates exactly in
    # SQL. A drifted page size, a dropped filter param, or a dropped
    # page in the source all hash-diverge from this.
    oracle="""
    SELECT CAST(i AS VARCHAR) AS id,
           'PROJ-' || CAST(i AS VARCHAR) AS "key",
           'high' AS priority
    FROM range(0, 137) t(i)
    WHERE i % 2 = 0
    """,
)
def source_rest_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The A3 offset fan-out as a registered scan: ``offset_scan_parallel``
    against the deterministic API emulator, with the ``priority`` filter
    forwarded as an API query param (the reference forwards its filters
    the same way, ``fetch_jira_tempo_worklogs.py:60-63``), then the
    flat MAPPING's one JVM select."""
    from airflow_jira_etl_spark.sources.fixture_fetchers import (
        synthetic_issues_fetcher,
    )
    from airflow_jira_etl_spark.sources.paged_rest import (
        offset_scan_parallel,
        raw_json_to_flat,
    )

    raw = offset_scan_parallel(
        spark,
        synthetic_issues_fetcher({}),
        "https://api/search",
        params={"priority": "high"},
    )
    return raw_json_to_flat(raw, {"id": "id", "key": "key", "priority": "priority"})


@query(
    "sink_partitioned_write",
    oracle="""
    SELECT event_id, user_id, event_type, round(value + 1e-9, 4) AS value
    FROM events
    WHERE event_type IN ('click', 'purchase')
    """,
)
def sink_partitioned_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned layout — the core 100 TB storage
    practice: write events partitioned by event_type, read back only
    two partitions. The read-back filter becomes a PartitionFilter
    (directory pruning — asserted in tests/test_scale_patterns.py):
    untouched partitions are never listed, let alone scanned."""
    out_dir = session_scratch("events_by_type", os.path.basename(os.path.normpath(sf_dir)))
    events = catalog.load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.round(F.col("value") + F.lit(1e-9), 4).alias("value")
    )
    (
        events.write.mode("overwrite")
        .partitionBy("event_type")
        .parquet(out_dir)
    )
    return (
        spark.read.parquet(out_dir)
        .where(F.col("event_type").isin("click", "purchase"))
        .select("event_id", "user_id", "event_type", "value")
    )


@query(
    "sink_create_table",
    oracle="""
    SELECT c_custkey, upper(c_name) AS c_name_upper, c_mktsegment
    FROM customer WHERE c_acctbal > 0
    """,
)
def sink_create_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDL + write + read-back (reference A11: CREATE TABLE IF NOT
    EXISTS as first DAG task, ``db_ops.py:22-27``,
    ``fetch_jira_tempo_worklogs.py:102-106``). Writes a real parquet
    table to a scratch dir and reads it back; the oracle is the source
    relation itself, so the round-trip must be lossless."""
    out_dir = session_scratch("sink_create_table", os.path.basename(os.path.normpath(sf_dir)))
    shutil.rmtree(out_dir, ignore_errors=True)
    catalog.register_views(spark, sf_dir)
    df = spark.sql(
        """
        SELECT c_custkey, upper(c_name) AS c_name_upper, c_mktsegment
        FROM customer WHERE c_acctbal > 0
        """
    )
    df.write.mode("overwrite").parquet(out_dir)
    return spark.read.parquet(out_dir)


@query(
    "sink_time_travel",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus,
           round(o_totalprice + 1e-9, 4) AS o_totalprice
    FROM orders
    WHERE o_orderkey % 10 = 0
    """,
)
def sink_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generation time travel made driver-visible: commit a base
    generation, MERGE an updating batch over it (gen 1), then read AS
    OF generation 0 — the result must be the ORIGINAL rows, bit for
    bit, even though the live table now holds the updates. The oracle
    is the gen-0 input relation; any leakage of gen-1 rewrites into a
    retained historical manifest breaks the hash."""
    from airflow_jira_etl_spark.sinks.parquet_upsert import ParquetUpsertTable

    orders = catalog.load(spark, sf_dir, "orders")
    base = orders.where(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") + F.lit(1e-9), 4).alias("o_totalprice"),
    )
    root = session_scratch("time_travel_table", os.path.basename(os.path.normpath(sf_dir)))
    table = ParquetUpsertTable(spark, root, key="o_orderkey", n_buckets=8)
    table.destroy()  # fresh run: destroy leaves an empty, usable root
    table.apply(base)  # gen 0
    updates = base.where(F.col("o_orderkey") % 20 == 0).withColumn(
        "o_orderstatus", F.lit("T")
    )
    table.apply(updates)  # gen 1 rewrites half the keys' buckets
    return table.read(generation=0)


@query(
    "scan_jsonl",
    oracle="""
    SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
           round(value + 1e-9, 4) AS value
    FROM events
    WHERE event_type IN ('view', 'purchase')
    """,
)
def scan_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines scan with an explicit schema — the reference's actual
    wire format (every page body is JSON, ``jira_fetcher.py:37``):
    events round-trip through a JSONL file and come back typed, no
    inference pass (schema-on-read inference at 100 TB means sampling
    every file twice; the declared StructType is free and strict).
    Filter still prunes: the read applies the declared schema then the
    predicate — and the oracle is the round-trip identity, so any
    timestamp/float lossiness in the writer or parser breaks the hash."""
    from pyspark.sql import types as T

    out_dir = session_scratch("events_jsonl", os.path.basename(os.path.normpath(sf_dir)))
    events = catalog.load(spark, sf_dir, "events").select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        F.round(F.col("value") + F.lit(1e-9), 4).alias("value"),
    )
    # default JSON timestampFormat carries millis only — declare a
    # micro-precision format on BOTH sides or the round-trip lies
    ts_fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
    events.write.mode("overwrite").option("timestampFormat", ts_fmt).json(
        out_dir
    )
    # the round-trip contract IS the catalog schema (minus props):
    # deriving it keeps these scans honest under declared-type changes
    schema = T.StructType(
        [f for f in catalog.SCHEMAS["events"].fields if f.name != "props"]
    )
    return (
        spark.read.schema(schema)
        .option("timestampFormat", ts_fmt)
        .json(out_dir)
        .where(F.col("event_type").isin("view", "purchase"))
    )


@query(
    "scan_csv",
    oracle="""
    SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
           round(value + 1e-9, 4) AS value
    FROM events
    WHERE user_id % 5 = 0
    """,
)
def scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV scan with an explicit schema and header — the
    lowest-common-denominator interchange format, read WITHOUT
    inference (inferSchema at 100 TB is a full extra pass over every
    byte). Micro-precision timestamp format declared on both sides
    (the default truncates, same trap as JSON); doubles round-trip
    losslessly through shortest-repr text. The oracle is the
    round-trip identity."""
    from pyspark.sql import types as T

    out_dir = session_scratch("events_csv", os.path.basename(os.path.normpath(sf_dir)))
    ts_fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
    events = catalog.load(spark, sf_dir, "events").select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        F.round(F.col("value") + F.lit(1e-9), 4).alias("value"),
    )
    (
        events.write.mode("overwrite")
        .option("header", True)
        .option("timestampFormat", ts_fmt)
        .csv(out_dir)
    )
    # the round-trip contract IS the catalog schema (minus props):
    # deriving it keeps these scans honest under declared-type changes
    schema = T.StructType(
        [f for f in catalog.SCHEMAS["events"].fields if f.name != "props"]
    )
    return (
        spark.read.schema(schema)
        .option("header", True)
        .option("timestampFormat", ts_fmt)
        .csv(out_dir)
        .where(F.col("user_id") % 5 == 0)
    )


@query(
    "sink_sorted_write",
    oracle="""
    SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
           round(value + 1e-9, 4) AS value
    FROM events
    WHERE user_id BETWEEN 10 AND 19
    """,
)
def sink_sorted_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-clustered layout for data skipping: events range-partitioned
    and sorted by user_id at write time, so every parquet file (and row
    group) covers a NARROW user_id interval and its footer min/max
    statistics actually prune. An unsorted write leaves every file's
    min/max spanning the full key range — statistics exist but never
    exclude anything. The read-back predicate reaches the scan as a
    PushedFilter and skips non-overlapping row groups on footer stats
    alone (file-level stats tightness is asserted in
    tests/test_scale_patterns.py). At 100 TB this layout choice — not
    any compute change — is what turns a point-range query from a full
    scan into touching ~1/N of the files."""
    out_dir = session_scratch("events_sorted", os.path.basename(os.path.normpath(sf_dir)))
    events = catalog.load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", fround(F.col("value")).alias("value")
    )
    (
        events.repartitionByRange(8, "user_id")
        .sortWithinPartitions("user_id", "ts")
        .write.mode("overwrite")
        .parquet(out_dir)
    )
    return spark.read.parquet(out_dir).where(
        F.col("user_id").between(10, 19)
    )


@query(
    "scan_schema_evolution",
    oracle="""
    SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_channel
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey, o_totalprice, 'web' AS o_channel
    FROM orders WHERE o_orderkey % 2 = 1
    """,
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: generation 1 of a table was written
    without ``o_channel``, generation 2 adds it; ``mergeSchema`` unifies
    the footers and back-fills the missing column with NULL for old
    files. This is the additive-column contract a long-lived 100 TB
    table lives by — old data is never rewritten when a column is
    added, the reader reconciles. (Type-CHANGED columns are the
    non-additive case and fail loudly instead — that path is the
    catalog's conform() contract, tests/test_catalog_units.py.)
    mergeSchema costs a footer read per file — fine per-query here; a
    production table keeps the merged schema in a catalog/metastore so
    the read path goes back to one footer."""
    out_dir = session_scratch("orders_evolving", os.path.basename(os.path.normpath(sf_dir)))
    shutil.rmtree(out_dir, ignore_errors=True)
    orders = catalog.load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    orders.where(F.col("o_orderkey") % 2 == 0).write.mode("append").parquet(
        out_dir
    )
    orders.where(F.col("o_orderkey") % 2 == 1).withColumn(
        "o_channel", F.lit("web")
    ).write.mode("append").parquet(out_dir)
    return spark.read.option("mergeSchema", "true").parquet(out_dir).select(
        "o_orderkey", "o_totalprice", "o_channel"
    )


@query(
    "scan_corrupt_quarantine",
    oracle="""
    SELECT event_id, user_id, event_type, round(value + 1e-9, 4) AS value
    FROM events WHERE event_id % 1000 <> 17 OR event_id IS NULL
    """,
)
def scan_corrupt_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-record quarantine on ingest: a JSONL feed where every
    1000th-ish line is malformed (truncated JSON — the reality of any
    API/file feed at 100 TB) is read in PERMISSIVE mode with an
    explicit ``_malformed`` capture column. Good rows pass through
    typed; corrupt lines land INTACT in the capture column for a
    quarantine sink instead of failing the job (FAILFAST) or vanishing
    silently (DROPMALFORMED without capture). The query returns the
    clean rows; the quarantine side — count and raw-line preservation —
    is asserted in tests/test_ingest.py. NULL event_id is a CLEAN row
    here, not a key violation: ingest quarantines only unparseable
    LINES, and an id-less record round-trips JSON fine — so the oracle
    keeps NULL ids explicitly (the % predicate alone would drop them
    as three-valued false, the r15 NULL-entity-key sweep's find)."""
    from pyspark.sql import types as T

    tag = os.path.basename(os.path.normpath(sf_dir))
    out_dir = session_scratch("events_corrupt", tag)
    events = catalog.load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", fround(F.col("value")).alias("value")
    )
    line = F.when(
        F.col("event_id") % 1000 == 17,
        # truncated mid-object: unparseable, deterministic per row
        F.concat(F.lit('{"event_id": '), F.col("event_id"), F.lit(', "user_')),
    ).otherwise(F.to_json(F.struct("event_id", "user_id", "event_type", "value")))
    events.select(line.alias("value")).write.mode("overwrite").text(out_dir)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("_malformed", T.StringType()),
        ]
    )
    raw = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_malformed")
        .json(out_dir)
        # One parse, two consumers (clean sink + quarantine sink): the
        # split REQUIRES materializing the parsed batch — Spark refuses
        # plans whose pruned scan references only the corrupt column
        # (QUERY_ONLY_CORRUPT_RECORD_COLUMN), and even allowed, two
        # lazy branches would parse every line twice. Production does
        # this per micro-batch (batch-sized cache), not per table.
        .cache()
    )
    raw.count()
    return raw.where(F.col("_malformed").isNull()).select(
        "event_id", "user_id", "event_type", "value"
    )
