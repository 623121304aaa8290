"""Streaming ≡ batch equivalence: the availableNow micro-batch runs
must produce the batch plan's answer (SURVEY.md §5.2 property)."""

from __future__ import annotations

from pyspark.sql import functions as F

from airflow_jira_etl_spark import catalog, registry

registry.load_all_queries()


def _batch_tumbling(spark, sf_dir):
    events = catalog.load(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), "event_type"
        ).agg(F.count("*").alias("n_events"))
    )


def test_stream_tumbling_equals_batch(spark, sf_dir):
    stream = registry.QUERIES["stream_tumbling_count"](spark, sf_dir)
    batch = _batch_tumbling(spark, sf_dir)
    assert sorted(map(tuple, stream.collect())) == sorted(map(tuple, batch.collect()))


def test_watermark_emits_closed_windows_subset(spark, sf_dir):
    """Append-mode output under a watermark must be a subset of the
    batch answer, missing only windows the watermark left open."""
    emitted = registry.QUERIES["stream_watermark_late"](spark, sf_dir)
    batch = _batch_tumbling(spark, sf_dir)
    emitted_rows = set(map(tuple, emitted.collect()))
    batch_rows = set(map(tuple, batch.collect()))
    assert emitted_rows <= batch_rows
    # everything except the final (still-open) windows is emitted
    assert len(batch_rows) - len(emitted_rows) <= len(
        {r[0] for r in batch_rows - emitted_rows}
    ) * 5  # ≤ #event_types per open window


def test_foreachbatch_upsert_replay_idempotent(spark, sf_dir):
    """Running the whole paged foreachBatch pipeline twice converges to
    the same table state (the reference's replay invariant)."""
    q = registry.QUERIES["stream_foreachbatch_upsert"]
    once = sorted(map(tuple, q(spark, sf_dir).collect()))
    twice = sorted(map(tuple, q(spark, sf_dir).collect()))
    assert once == twice


def test_foreachbatch_compact_leaves_single_generation(spark, sf_dir):
    """The stream pipeline ends with compact + vacuum(retain_last=1):
    after the run exactly ONE generation remains on disk — the
    compacted one, holding the full state — so storage is bounded run
    over run and every bucket resolves into the same directory."""
    import os

    from airflow_jira_etl_spark.scratch import session_scratch
    from airflow_jira_etl_spark.sinks.parquet_upsert import ParquetUpsertTable

    q = registry.QUERIES["stream_foreachbatch_upsert"]
    n_rows = q(spark, sf_dir).count()

    tag = os.path.basename(os.path.normpath(sf_dir))
    t = ParquetUpsertTable(
        spark, session_scratch("upsert_tables", tag), key="event_id"
    )
    gens = t.generations()
    # 4 micro-batches commit gens 0..3, compact commits gen 4, vacuum
    # reclaims 0..3 entirely (the compacted manifest references only
    # its own directory)
    assert len(gens) == 1
    assert os.path.exists(os.path.join(t.root, gens[0], "_MANIFEST.json"))
    m = t._read_manifest(os.path.join(t.root, gens[0]))
    assert {p.split("/", 1)[0] for p in m["buckets"].values()} == {gens[0]}
    assert t.read().count() == n_rows


def test_stream_reads_directory_shaped_events_fixture(spark, tmp_path):
    """A future fixture regeneration could ship events.parquet as a
    Spark-style DIRECTORY of part files instead of one file. The
    staged stream source lists its directory non-recursively, so the
    staging layer must link the part files individually — linking the
    directory itself makes every streaming query silently read zero
    rows (found while building the streaming scale probe)."""
    import os

    import pyarrow.parquet as pq

    src = catalog.table_path("/root/testdata/sf0.01", "events")
    fix = str(tmp_path / "dirfix")
    os.makedirs(fix)
    t = pq.read_table(src)
    part_dir = os.path.join(fix, "events.parquet")
    os.makedirs(part_dir)
    half = t.num_rows // 2
    pq.write_table(t.slice(0, half), os.path.join(part_dir, "part-0.parquet"),
                   store_schema=False)
    pq.write_table(t.slice(half), os.path.join(part_dir, "part-1.parquet"),
                   store_schema=False)
    for name in catalog.TABLES:
        dst = os.path.join(fix, f"{name}.parquet")
        if not os.path.exists(dst):
            os.symlink(catalog.table_path("/root/testdata/sf0.01", name), dst)

    got = registry.QUERIES["stream_dedup_keys"](spark, fix)
    want = catalog.load(spark, fix, "events").select(
        "user_id", "event_type"
    ).distinct()
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_stateful_streams_green_under_rocksdb_state_store(spark, sf_dir):
    """Spark's own ``stateStore.providerClass`` conf swaps the
    heap-backed state store for RocksDB (the 100 TB path — keyed state
    on executor-local disk instead of on-heap). The stateful query
    family must stay oracle-green under it, and the scoped provider
    conf must be restored afterwards (no leak into later queries)."""
    from airflow_jira_etl_spark.session import scoped_conf
    from tests.oracle_check import compare, duckdb_conn

    key = "spark.sql.streaming.stateStore.providerClass"
    rocksdb = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    con = duckdb_conn(sf_dir)
    with scoped_conf(spark, key, rocksdb):
        for name in (
            "stream_tumbling_count",
            "stream_session_window",
            "stream_stateful_profile",
        ):
            r = compare(
                registry.QUERIES[name](spark, sf_dir),
                con,
                registry.ORACLES[name],
            )
            assert not r["errors"], (name, r["errors"])
    # restored to the pre-run effective provider, not left on rocksdb
    assert "RocksDB" not in (spark.conf.get(key, "") or "")


def test_stateful_profile_all_null_values_emit_sql_null(spark):
    """SQL aggregate semantics on NULLs for the custom stateful
    operator: a user whose values are ALL null must emit NULL
    total/peak (the oracle's sum/max over all-NULL), never the 0.0 /
    -inf the naive pandas fold produces; a user with MIXED nulls skips
    them. Driven through the real applyInPandasWithState plan over a
    rate-less two-batch memory run."""
    import pandas as pd

    from airflow_jira_etl_spark.streaming.stateful import _update_profile

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    def run(batches, state):
        out = list(_update_profile((7,), iter(batches), state))
        assert len(out) == 1
        return out[0].iloc[0]

    def batch(values, nulls):
        # the Spark plan ships NULL-ness as its own column: after
        # Arrow float64 conversion the kernel cannot tell NULL from a
        # genuine NaN (running_user_profile's value_is_null marker)
        return pd.DataFrame(
            {
                "value": pd.Series(values, dtype="float64"),
                "value_is_null": nulls,
            }
        )

    # batch 1: all-null values -> NULL aggregates, n counts rows
    st = FakeState()
    r = run([batch([None, None], [True, True])], st)
    assert r["n_events"] == 2
    assert pd.isna(r["total_value"]) and pd.isna(r["peak_value"])

    # batch 2 (same state): real values arrive -> nulls skipped,
    # aggregates over the non-null subset only
    r = run([batch([3.0, None, 5.0], [False, True, False])], st)
    assert r["n_events"] == 5
    assert r["total_value"] == 8.0 and r["peak_value"] == 5.0

    # negative-only values: peak must NOT be polluted by a 0.0 or
    # -inf initialization sentinel
    st2 = FakeState()
    r = run([batch([-4.0, -9.0], [False, False])], st2)
    assert r["total_value"] == -13.0 and r["peak_value"] == -4.0

    # a GENUINE NaN value (not a NULL) follows SQL semantics: sum
    # propagates NaN and max treats NaN as greatest — a dropna() fold
    # would silently skip it and disagree with the oracle
    st3 = FakeState()
    r = run([batch([2.0, float("nan")], [False, False])], st3)
    assert r["n_events"] == 2
    import math

    assert math.isnan(r["total_value"]) and math.isnan(r["peak_value"])
    # and the NaN peak STAYS NaN across later batches (running max)
    r = run([batch([99.0], [False])], st3)
    assert math.isnan(r["peak_value"]) and math.isnan(r["total_value"])


def test_write_event_pages_drops_null_ids_rejects_negative(spark, tmp_path, scratch_root):
    """Page ids derive from event_id. The NULL entity-key
    convention: a NULL-id row has no position in the id-derived layout
    (the reference's unique-key contract — db_ops.py:29-43 — makes it
    unaddressable by MERGE), so it is DROPPED from the paged stream,
    and every consumer oracle filters event_id IS NOT NULL to match.
    A NEGATIVE id still refuses loudly: it lands below page 0, outside
    the rename loop's range(n_pages), where the _tmp cleanup would
    DELETE the rows silently while the meta commits the build as
    complete."""
    import os

    import pytest

    from airflow_jira_etl_spark.streaming.source import write_event_pages

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    # NULL id → dropped, the three addressable rows all paged
    fix = str(tmp_path / "nullfix")
    os.makedirs(fix)
    spark.createDataFrame(
        [
            (0, None, 1, "view", 1.0, "{}"),
            (None, None, 2, "click", 2.0, "{}"),
            (1, None, 3, "view", 3.0, "{}"),
            (2, None, 4, "view", 4.0, "{}"),
        ],
        schema,
    ).write.mode("overwrite").parquet(os.path.join(fix, "events.parquet"))
    pages, _ = write_event_pages(spark, fix, n_pages=2)
    paged = spark.read.parquet(os.path.join(pages, "page_*"))
    got = sorted(r.event_id for r in paged.select("event_id").collect())
    assert got == [0, 1, 2]  # the NULL-id row is gone, nothing else

    # negative id → loud refusal
    fix = str(tmp_path / "badfix")
    os.makedirs(fix)
    spark.createDataFrame(
        [(-1, None, 1, "view", 1.0, "{}")], schema
    ).write.mode("overwrite").parquet(os.path.join(fix, "events.parquet"))
    with pytest.raises(ValueError, match="non-negative"):
        write_event_pages(spark, fix, n_pages=2)


def test_events_stream_reads_the_fixture_through_a_glob(spark, tmp_path):
    """The events stream reads the fixture itself through a glob: a
    file-shaped and a directory-shaped fixture both stream every row."""
    import os

    from airflow_jira_etl_spark.scratch import session_scratch
    from airflow_jira_etl_spark.streaming.source import (
        read_events_stream,
        run_available_now,
    )

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    src = spark.createDataFrame(
        [(i, None, i % 3, "view", float(i), "{}") for i in range(5)], schema
    )
    file_fix = tmp_path / "file"
    src.coalesce(1).write.parquet(str(tmp_path / "one"))
    file_fix.mkdir()
    (part,) = (tmp_path / "one").glob("part-*.parquet")
    os.rename(part, file_fix / "events.parquet")
    dir_fix = tmp_path / "dir"
    src.repartition(2).write.parquet(str(dir_fix / "events.parquet"))
    for i, fix in enumerate((file_fix, dir_fix)):
        out = run_available_now(
            read_events_stream(spark, str(fix)).groupBy().count(),
            session_scratch("checkpoints", f"glob_{i}"),
            f"events_glob_{i}",
        )
        assert out.collect()[0][0] == 5, fix



def test_fixture_under_glob_metacharacters_is_oracle_green(
    spark, sf_dir, tmp_path, scratch_root
):
    """Spark globs batch and stream paths alike, so a fixture under a
    dir like ``a[1]{x,y}*`` must be read through escaped paths, and the
    scratch paths derived from its name must be glob-free. Each query
    family that reads the fixture or a derived path stays oracle-green
    (the oracle reads the same files through the original path)."""
    import os

    from tests.oracle_check import compare, duckdb_conn

    odd = tmp_path / "a[1]{x,y}*"
    odd.mkdir()
    for name in catalog.TABLES:
        os.symlink(
            os.path.abspath(catalog.table_path(sf_dir, name)),
            catalog.table_path(str(odd), name),
        )
    con = duckdb_conn(sf_dir)
    for name in (
        "scan_parquet",
        "stream_tumbling_count",
        "stream_foreachbatch_upsert",
        "mv_incremental_refresh",
        "sink_time_travel",
    ):
        r = compare(registry.QUERIES[name](spark, str(odd)), con, registry.ORACLES[name])
        assert not r["errors"], (name, r["errors"])
