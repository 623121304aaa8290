"""Property tests: the distributed upsert — the bare operator and the
parquet sink's apply() — agrees with sequential dict semantics (the
reference's per-record execute order) on random batches, and the
TIME-of-day helpers round-trip every second of the day."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from airflow_jira_etl_spark.operators.upsert import upsert

kv_lists = st.lists(
    st.tuples(st.integers(0, 8), st.text(alphabet="abcdef", min_size=1, max_size=4)),
    max_size=12,
)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(base_rows=kv_lists, update_rows=kv_lists)
def test_upsert_matches_sequential_dict_semantics(spark, base_rows, update_rows):
    # base must itself be keyed (one row per key) — dedup keeping last,
    # as a prior upsert would have produced
    base_map: dict[int, str] = {}
    for k, v in base_rows:
        base_map[k] = v
    if not base_map and not update_rows:
        return
    expected = dict(base_map)
    for k, v in update_rows:  # sequential LWW, the reference's order
        expected[k] = v

    schema = "k int, v string"
    base_df = spark.createDataFrame(list(base_map.items()) or [], schema)
    upd_df = spark.createDataFrame(update_rows or [], schema)
    got = {r.k: r.v for r in upsert(base_df, upd_df, "k").collect()}
    assert got == expected


@pytest.mark.parametrize("n_buckets", [1, 4])
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(batches=st.lists(kv_lists, min_size=1, max_size=3))
def test_sink_apply_matches_sequential_dict_semantics(
    spark, tmp_path_factory, n_buckets, batches
):
    """A random sequence of batches (empty ones included) pushed through
    ParquetUpsertTable.apply equals sequential last-writer-wins over
    every row in batch order, on the one-bucket single-task merge and
    the multi-bucket path alike; replaying the last batch leaves the
    state unchanged."""
    from airflow_jira_etl_spark.sinks.parquet_upsert import ParquetUpsertTable

    t = ParquetUpsertTable(
        spark, str(tmp_path_factory.mktemp("lww")), key="k", n_buckets=n_buckets
    )
    expected: dict[int, str] = {}
    schema = "k int, v string"
    for rows in batches:
        t.apply(spark.createDataFrame(rows, schema))
        expected.update(rows)
    got = {r.k: r.v for r in t.read().collect()}
    assert got == expected
    t.apply(spark.createDataFrame(batches[-1], schema))
    assert {r.k: r.v for r in t.read().collect()} == got


@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(seconds=st.integers(0, 86399))
def test_time_of_day_roundtrip(spark, seconds):
    from airflow_jira_etl_spark.functions.timeofday import (
        seconds_to_time,
        time_to_seconds,
    )

    df = spark.createDataFrame([(seconds,)], "s int")
    row = df.select(
        seconds_to_time(F.col("s")).alias("t")
    ).select(
        "t", time_to_seconds(F.col("t")).alias("s2")
    ).collect()[0]
    assert row.s2 == seconds
    assert len(row.t) == 8 and row.t.count(":") == 2


batch_lists = st.lists(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(-50, 50)),
        min_size=1,
        max_size=6,
    ),
    min_size=1,
    max_size=4,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(batches=batch_lists)
def test_merge_aggregate_fold_equals_one_shot(spark, batches):
    """Folding per-batch partial aggregates through merge_aggregate in
    ANY batch split must equal the one-shot aggregate over all rows —
    the incremental-MV correctness property, for random splits."""
    from airflow_jira_etl_spark.operators.upsert import merge_aggregate

    schema = "k int, n long, total long, hi long"
    state = spark.createDataFrame([], schema)
    all_rows = [r for b in batches for r in b]
    for b in batches:
        partial = (
            spark.createDataFrame(b, "k int, v long")
            .groupBy("k")
            .agg(
                F.count("*").alias("n"),
                F.sum("v").alias("total"),
                F.max("v").alias("hi"),
            )
        )
        state = merge_aggregate(
            state, partial, "k", {"n": "sum", "total": "sum", "hi": "max"}
        )
    got = {r.k: (r.n, r.total, r.hi) for r in state.collect()}
    expected_df = (
        spark.createDataFrame(all_rows, "k int, v long")
        .groupBy("k")
        .agg(
            F.count("*").alias("n"),
            F.sum("v").alias("total"),
            F.max("v").alias("hi"),
        )
    )
    expected = {r.k: (r.n, r.total, r.hi) for r in expected_df.collect()}
    assert got == expected
