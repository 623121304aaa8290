"""Fixture-layout robustness: the events table's ``ts`` physical unit
has changed across driver fixture generations (TIMESTAMP(NANOS) in some,
TIMESTAMP(MICROS) in others). The engine sniffs the footer per file
instead of assuming a unit; these tests pin that behavior and the
event pages' layout."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from airflow_jira_etl_spark import catalog
from airflow_jira_etl_spark.streaming.source import write_event_pages


def test_events_ts_matches_arrow_read(spark, sf_dir):
    """catalog.load must yield the same wall-clock instants pyarrow
    reads from the file, whatever the stored precision (floor-truncated
    to micros for nanos files)."""
    path = catalog.table_path(sf_dir, "events")
    arrow = pq.read_table(path, columns=["event_id", "ts"]).sort_by("event_id")
    want = arrow.column("ts").cast(pa.timestamp("us")).to_pylist()[:5]

    got_rows = (
        catalog.load(spark, sf_dir, "events")
        .select("event_id", "ts")
        .orderBy("event_id")
        .limit(5)
        .collect()
    )
    got = [r.ts for r in got_rows]
    assert got == want


def test_pages_store_real_timestamps(spark, sf_dir, scratch_root):
    """Layout v2: page files persist ts as a real timestamp column (no
    raw-long plumbing), so page readers use the declared events schema
    directly and values survive the round trip."""
    pages_dir, _ = write_event_pages(spark, sf_dir, n_pages=2)
    paged = (
        spark.read.schema(catalog.SCHEMAS["events"])
        .parquet(os.path.join(pages_dir, "page_*"))
        .orderBy("event_id")
        .limit(3)
        .collect()
    )
    direct = (
        catalog.load(spark, sf_dir, "events")
        .orderBy("event_id")
        .limit(3)
        .collect()
    )
    assert [r.ts for r in paged] == [r.ts for r in direct]


def test_load_casts_drifted_physical_types(spark, tmp_path):
    """The r04 incident, generalized: a regenerated fixture may re-emit
    any column with a different but value-compatible physical type.
    load() must read the file under its own schema and cast to the
    declared contract — including the long-surfaced TIMESTAMP(NANOS)
    case, which a plain cast would misread as seconds."""
    import datetime

    from pyspark.sql import types as T

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    base_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in micros
    table = pa.table(
        {
            # declared long -> shipped int32
            "o_orderkey": pa.array([1, 2], pa.int32()),
            "o_custkey": pa.array([10, 20], pa.int64()),
            "o_orderstatus": pa.array(["O", "F"]),
            # declared double -> shipped float32
            "o_totalprice": pa.array([1.5, 2.5], pa.float32()),
            # declared timestamp -> shipped TIMESTAMP(NANOS)
            "o_orderdate": pa.array(
                [base_us * 1000, (base_us + 1_000_000) * 1000],
                pa.timestamp("ns"),
            ),
            "o_orderpriority": pa.array(["1-URGENT", "2-HIGH"]),
        }
    )
    pq.write_table(
        pa.Table.from_arrays(
            [table[c] for c in table.column_names],
            names=table.column_names,
        ),
        os.path.join(sf, "orders.parquet"),
        store_schema=False,
    )
    df = catalog.load(spark, sf, "orders")
    assert df.schema == catalog.SCHEMAS["orders"]
    rows = df.orderBy("o_orderkey").collect()
    assert [r.o_orderkey for r in rows] == [1, 2]
    assert [r.o_totalprice for r in rows] == [1.5, 2.5]
    assert rows[0].o_orderdate == datetime.datetime(2024, 1, 1, 0, 0, 0)
    assert rows[1].o_orderdate == datetime.datetime(2024, 1, 1, 0, 0, 1)


def _write_adversarial_sweep_events(sf: str, unit: str) -> None:
    """Events engineered to break a sweep-line on precision drift:
    coincident starts, end-meets-start chains (half-open boundary),
    sub-microsecond fractions that only coincide after floor-to-micros,
    and midnight clipping — written at the requested parquet unit."""
    base = 1_704_067_200_000_000_000  # 2024-01-01T00:00:00Z in ns
    h = 3_600 * 10**9
    min5 = 5 * 60 * 10**9
    ns: list[int] = []
    ns += [base + 10 * h] * 4  # coincident burst: 4 identical starts
    b = base + 2 * h  # chain: each interval's end == next one's start
    ns += [b, b + min5, b + 2 * min5]
    # a carries .999999999; c sits at floor(a)+5min — whether a's END
    # coincides with anything depends ONLY on consistent micros floor
    a = base + 3 * h + 999_999_999
    ns += [a, (a // 1000) * 1000 + min5]
    j = base + 4 * h  # pair differing below 1 µs: coincide after floor
    ns += [j + 1, j + 999]
    # midnight: 23:58 start (interval clipped at day end) + a start at
    # exactly the next midnight (belongs wholly to day 2)
    ns += [base + 24 * h - 120 * 10**9, base + 24 * h]
    vals = ns if unit == "ns" else [v // 1000 for v in ns]
    n = len(vals)
    table = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(vals, pa.timestamp(unit)),
            "user_id": pa.array([i % 3 for i in range(n)], pa.int64()),
            "event_type": pa.array(["click"] * n),
            "value": pa.array([1.0] * n, pa.float64()),
            "props": pa.array(["{}"] * n),
        }
    )
    pq.write_table(
        table, os.path.join(sf, "events.parquet"), store_schema=False
    )


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_concurrency_sweep_parity_on_coincident_boundaries(
    spark, tmp_path, unit
):
    """End-to-end reproduction of the r05 hash-only red's suspected
    mechanism: the SAME adversarial events file (coincident and
    sub-microsecond boundary timestamps, at either parquet unit) must
    hash-match between the Spark sweep-line and the DuckDB oracle —
    Spark loading via catalog's footer-sniff path, DuckDB reading the
    parquet natively exactly as the driver's view registration does."""
    import duckdb

    from airflow_jira_etl_spark import registry
    from airflow_jira_etl_spark.queries.windows import win_concurrency_sweep
    from tests.oracle_check import canon_rows

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    _write_adversarial_sweep_events(sf, unit)

    out = win_concurrency_sweep(spark, sf)
    spark_cols = list(out.columns)
    spark_rows = [tuple(r) for r in out.collect()]

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM read_parquet("
        f"'{os.path.join(sf, 'events.parquet')}')"
    )
    duck = con.execute(registry.ORACLES["win_concurrency_sweep"])
    duck_cols = [d[0] for d in duck.description]
    duck_rows = duck.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols)
    assert canon_rows(spark_cols, spark_rows) == canon_rows(
        duck_cols, duck_rows
    )
    by_day = {r[0].isoformat(): r[1] for r in spark_rows}
    assert by_day["2024-01-01"] >= 4  # the coincident burst must count


def test_load_missing_declared_column_fails_loudly(spark, tmp_path):
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    pq.write_table(
        pa.table({"r_regionkey": pa.array([0], pa.int32())}),
        os.path.join(sf, "region.parquet"),
    )
    with pytest.raises(ValueError, match="lacks declared columns"):
        catalog.load(spark, sf, "region")


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


def test_load_casts_drifted_array_element_type(spark, tmp_path):
    """Embeddings shipping list<double> instead of the declared
    list<float> must conform (array-element casts are the drift mode
    for vector columns)."""
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([0, 1], pa.int64()),
                "embedding": pa.array(
                    [[0.5, 1.5], [2.5, 3.5]], pa.list_(pa.float64())
                ),
                "label": pa.array([0, 1], pa.int64()),  # int32 declared
            }
        ),
        os.path.join(sf, "embeddings.parquet"),
    )
    df = catalog.load(spark, sf, "embeddings")
    assert df.schema == catalog.SCHEMAS["embeddings"]
    rows = df.orderBy("vec_id").collect()
    assert rows[0].embedding == [0.5, 1.5]
    assert rows[1].label == 1


def test_file_schema_cache_catches_in_place_part_rewrite(spark, tmp_path):
    """For a DIRECTORY-shaped table the schema cache must key on the
    per-part stats: an in-place part rewrite (same file names, new
    bytes — e.g. a fixture regeneration flipping the ts unit) leaves
    the directory's own mtime/size unchanged, and a dir-stat key would
    serve the STALE schema to every later read of the session."""
    import time

    d = str(tmp_path / "events.parquet")
    os.makedirs(d)
    part = os.path.join(d, "part-0.parquet")
    pq.write_table(pa.table({"x": pa.array([1], pa.int64())}), part)
    first = catalog.file_schema(spark, d)
    assert dict.fromkeys(f.name for f in first) == {"x": None}

    time.sleep(0.01)  # ensure the part's mtime_ns can differ
    pq.write_table(
        pa.table({"x": pa.array([1], pa.int64()),
                  "y": pa.array(["a"], pa.string())}),
        part,
    )
    # assert the OUTCOME (fresh schema), not the dir-stat mechanics —
    # whether the rewrite bumps the dir mtime is filesystem-dependent
    second = catalog.file_schema(spark, d)
    assert [f.name for f in second] == ["x", "y"]


def test_source_stamp_catches_in_place_part_rewrite(tmp_path):
    """source_stamp must change when a directory-shaped table's part
    file is rewritten in place (the dir's own stat does not), and
    source_tag must distinguish same-named fixtures at different
    paths — the cache-identity pair the IVF index and the streaming
    scratch dirs key on."""
    import time

    d = str(tmp_path / "a" / "embeddings.parquet")
    os.makedirs(d)
    part = os.path.join(d, "part-0.parquet")
    with open(part, "wb") as f:
        f.write(b"v1")
    s1 = catalog.source_stamp(d)
    time.sleep(0.01)
    with open(part, "wb") as f:
        f.write(b"v2")  # same name+size, new mtime
    assert catalog.source_stamp(d) != s1

    other = str(tmp_path / "b" / "a")
    os.makedirs(other)
    same_base = str(tmp_path / "c" / "a")
    os.makedirs(same_base)
    assert catalog.source_tag(other) != catalog.source_tag(same_base)
    assert catalog.source_tag(other).startswith("a_")
