"""Dialect upsert-SQL generator tests (reference A8-A10/A12 parity).

The placeholder-count property is the regression the reference's MSSQL
version fails (2n placeholders for n values, db_ops.py:92,97)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airflow_jira_etl_spark.sinks.jdbc_dialects import (
    mssql_upsert_sql,
    mysql_upsert_sql,
    postgres_upsert_sql,
    upsert_sql,
)

COLS = ["tempo_worklog_id", "url", "time_spent_seconds"]
KEY = "tempo_worklog_id"


def test_postgres_shape():
    sql = postgres_upsert_sql("af_jira_worklogs", COLS, KEY)
    assert sql.count("%s") == len(COLS)
    assert 'ON CONFLICT ("tempo_worklog_id") DO UPDATE' in sql
    assert '"url" = EXCLUDED."url"' in sql
    assert f'"{KEY}" = EXCLUDED' not in sql  # key never self-assigned


def test_mysql_shape():
    sql = mysql_upsert_sql("af_jira_worklogs", COLS, KEY)
    assert sql.count("%s") == len(COLS)
    assert "ON DUPLICATE KEY UPDATE" in sql
    assert "`url` = VALUES(`url`)" in sql


def test_mssql_binds_exactly_n_placeholders():
    sql = mssql_upsert_sql("af_jira_worklogs", COLS, KEY)
    # the fixed property: one placeholder per column, total — the
    # reference emits 2n (update branch + insert branch)
    assert sql.count("%s") == len(COLS)
    assert "MERGE INTO [af_jira_worklogs] AS target" in sql
    assert "WHEN MATCHED THEN UPDATE SET" in sql
    assert "WHEN NOT MATCHED THEN INSERT" in sql
    assert "src.[url]" in sql


def test_factory_routes_conn_id_prefixes():
    assert "ON CONFLICT" in upsert_sql("postgres_default", "t", COLS, KEY)
    assert "DUPLICATE KEY" in upsert_sql("mysql_prod", "t", COLS, KEY)
    assert "MERGE INTO" in upsert_sql("mssql_dw", "t", COLS, KEY)
    with pytest.raises(ValueError, match="unsupported dialect"):
        upsert_sql("oracle_default", "t", COLS, KEY)


def test_key_only_tables_generate_valid_sql():
    """A presence-only table (just the key column) must not emit an
    empty SET/UPDATE clause (a syntax error at execute time): Postgres
    degrades to DO NOTHING, MySQL to the no-op key=key assignment,
    MSSQL drops the WHEN MATCHED clause."""
    from airflow_jira_etl_spark.sinks.jdbc_dialects import (
        mssql_upsert_sql,
        mysql_upsert_sql,
        postgres_upsert_sql,
    )

    pg = postgres_upsert_sql("t", ["id"], "id")
    assert pg.endswith("DO NOTHING") and "SET" not in pg
    my = mysql_upsert_sql("t", ["id"], "id")
    assert my.endswith("ON DUPLICATE KEY UPDATE `id` = `id`")
    ms = mssql_upsert_sql("t", ["id"], "id")
    assert "WHEN MATCHED" not in ms and "WHEN NOT MATCHED" in ms


def test_write_upsert_jdbc_dedupes_and_batches(spark, tmp_path):
    """The executor-side write path, end to end against a recording
    fake DBAPI connection: intra-batch duplicate keys collapse to ONE
    last-writer-wins row before any SQL executes (raw foreachPartition
    raced concurrent MERGEs on the same absent key), executemany
    receives the dialect SQL, and a commit lands per partition."""
    import json
    import os
    import uuid

    from airflow_jira_etl_spark.sinks.jdbc_dialects import write_upsert_jdbc

    out = str(tmp_path / "writes")
    os.makedirs(out)

    class RecordingConn:
        def __init__(self):
            self.rows, self.committed = [], False

        def cursor(self):
            return self

        def executemany(self, sql, batch):
            assert "ON CONFLICT" in sql
            self.rows.extend(batch)

        def commit(self):
            self.committed = True

        def close(self):
            # one file per connection, written only if committed
            if self.committed and self.rows:
                p = os.path.join(out, uuid.uuid4().hex + ".json")
                with open(p, "w") as f:
                    json.dump(self.rows, f)

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (1, "a2"), (3, "c"), (1, "a3")],
        "id long, v string",
    ).withColumn("ord", F.monotonically_increasing_id())
    write_upsert_jdbc(
        df, "postgres", "t", "id", RecordingConn, ordinal_col="ord"
    )
    rows = []
    for fn in os.listdir(out):
        with open(os.path.join(out, fn)) as f:
            rows.extend(tuple(r) for r in json.load(f))
    by_key = {}
    for r in rows:
        assert r[0] not in by_key, "duplicate key reached the database"
        by_key[r[0]] = r[1]
    assert by_key == {1: "a3", 2: "b", 3: "c"}  # last writer won


def test_write_upsert_jdbc_connection_economy(spark, tmp_path):
    """Empty partitions must not open a connection: total connections
    are bounded by the number of DISTINCT keys regardless of the
    repartition width (max(defaultParallelism, shuffle.partitions) by
    default — a static-config floor so a dynamic-allocation cluster
    polled before executor ramp-up cannot collapse a large write to ~2
    serialized connections; read WITHOUT df.rdd.getNumPartitions(),
    which finalizes the plan under AQE and can double-execute upstream
    shuffles), and an explicit num_partitions pins the width below the
    cluster's. Counted via marker files (the fake connects on
    executors; a driver-side counter would stay zero)."""
    import os
    import uuid

    from airflow_jira_etl_spark.sinks.jdbc_dialects import write_upsert_jdbc

    out = str(tmp_path / "conns")
    os.makedirs(out)

    class CountingConn:
        def __init__(self):
            with open(os.path.join(out, uuid.uuid4().hex), "w"):
                pass

        def cursor(self):
            return self

        def executemany(self, sql, batch):
            pass

        def commit(self):
            pass

        def close(self):
            pass

    # 3 distinct keys: whatever the default width (32 on local[32]),
    # only key-bearing partitions may connect — never the shuffle
    # default's worth of empty connections
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
    ).coalesce(2)
    write_upsert_jdbc(df, "postgres", "t", "id", CountingConn)
    assert 1 <= len(os.listdir(out)) <= 3

    # explicit num_partitions pins the width (and thus the connection
    # ceiling) below the cluster's concurrent-task count
    for fn in os.listdir(out):
        os.remove(os.path.join(out, fn))
    write_upsert_jdbc(
        df, "postgres", "t", "id", CountingConn, num_partitions=1
    )
    assert len(os.listdir(out)) == 1

    # 0 / negative widths are caller bugs — reject loudly rather than
    # silently falling back to the default width (a config wiring that
    # yields 0 almost certainly meant something else)
    import pytest

    for bad in (0, -4):
        with pytest.raises(ValueError, match="num_partitions"):
            write_upsert_jdbc(
                df, "postgres", "t", "id", CountingConn, num_partitions=bad
            )


def test_reserved_word_identifiers_are_quoted():
    """The reference's own Jira schema has a column literally named
    'key' — a RESERVED word in MySQL and T-SQL. Unquoted, the generated
    statement is a syntax error on exactly the reference's workload;
    every identifier (and each dot-segment of a qualified table name)
    must carry the dialect's quoting."""
    cols = ["id", "key", "self"]
    my = mysql_upsert_sql("issues", cols, "id")
    assert "(`id`, `key`, `self`)" in my and " key" not in my
    ms = mssql_upsert_sql("dbo.issues", cols, "id")
    assert "MERGE INTO [dbo].[issues]" in ms
    assert "([id], [key], [self])" in ms
    pg = postgres_upsert_sql("public.issues", cols, "id")
    assert 'INSERT INTO "public"."issues"' in pg
    assert '("id", "key", "self")' in pg


def test_paramstyle_qmark_for_pyodbc():
    """pyodbc (the dominant MSSQL driver) uses qmark paramstyle — %s
    placeholders raise at executemany. The marker is threaded into the
    generators (see test_qmark_rewrite_never_touches_identifiers for
    why a textual rewrite is not safe)."""
    sql = upsert_sql("mssql", "t", COLS, KEY, paramstyle="qmark")
    assert sql.count("?") == len(COLS) and "%s" not in sql
    assert upsert_sql("mssql", "t", COLS, KEY).count("%s") == len(COLS)
    with pytest.raises(ValueError, match="paramstyle"):
        upsert_sql("mssql", "t", COLS, KEY, paramstyle="numeric")


def test_write_upsert_jdbc_rejects_null_keys(spark, tmp_path):
    """A NULL key breaks both halves of the write contract before the
    database complains: the dedup collapses all NULL-key rows to one
    arbitrary survivor, and the conflict clause never matches NULL
    (unique indexes treat NULLs as distinct) so every batch RETRY
    inserts a fresh NULL-key row. The executor-side check refuses."""
    from airflow_jira_etl_spark.sinks.jdbc_dialects import write_upsert_jdbc

    class NopConn:
        def cursor(self):
            return self

        def executemany(self, sql, batch):
            pass

        def commit(self):
            pass

        def close(self):
            pass

    df = spark.createDataFrame(
        [(1, "a"), (None, "b")], "id long, v string"
    )
    # the merge operator's inline guard fires first (plan-level raise);
    # write_partition keeps a per-row defense behind it
    with pytest.raises(Exception, match="NULL key 'id'"):
        write_upsert_jdbc(df, "postgres", "t", "id", NopConn)


def test_quote_char_in_identifier_is_escaped():
    """An identifier CONTAINING the dialect's quote char ('a"b', 'a`b',
    'a]b' — all legal column names) must escape it by doubling (the
    standard rule in all three dialects); unescaped it terminates the
    quoted region early — malformed SQL at best, identifier-injection
    at worst."""
    pg = postgres_upsert_sql("t", ['id', 'a"b'], "id")
    assert '"a""b"' in pg and '"a"b"' not in pg.replace('"a""b"', "")
    my = mysql_upsert_sql("t", ["id", "a`b"], "id")
    assert "`a``b`" in my
    ms = mssql_upsert_sql("t", ["id", "a]b"], "id")
    assert "[a]]b]" in ms
    # table segments escape too
    assert '"we""ird"' in postgres_upsert_sql('we"ird', ["id"], "id")


def test_qmark_rewrite_never_touches_identifiers():
    """The qmark marker is threaded INTO the generators, not textually
    substituted afterwards: a column whose name contains the literal
    '%s' sequence (e.g. '100%sales') must survive intact — a post-hoc
    sql.replace('%s', '?') corrupted it to '100?ales' (a nonexistent
    column plus a phantom placeholder shifting every later binding)."""
    cols = ["id", "100%sales"]
    sql = upsert_sql("mssql", "t", cols, "id", paramstyle="qmark")
    assert "[100%sales]" in sql
    assert sql.count("?") == len(cols)
    pg = upsert_sql("postgres", "t", cols, "id", paramstyle="qmark")
    assert '"100%sales"' in pg and pg.count("?") == len(cols)


def test_format_paramstyle_escapes_percent_in_identifiers():
    """format-paramstyle drivers (psycopg2/pymysql/pymssql) %-scan the
    WHOLE statement client-side, quoted identifiers included: a literal
    '%' in an identifier must ship as '%%' or executemany dies with a
    bogus-placeholder/format error. qmark drivers do no interpolation,
    so there the '%' stays verbatim (previous test)."""
    cols = ["id", "100%sales"]
    pg = upsert_sql("postgres", "t", cols, "id")  # format default
    assert '"100%%sales"' in pg
    # exactly the value placeholders survive as lone %s: strip the
    # escaped %% pairs first, then count
    assert pg.replace("%%", "").count("%s") == len(cols)
    my = upsert_sql("mysql", "t", cols, "id")
    assert "`100%%sales`" in my
    assert my.replace("%%", "").count("%s") == len(cols)


def test_default_write_width_is_capped(spark, tmp_path):
    """Without an explicit num_partitions the write width is
    max(defaultParallelism, shuffle.partitions) CAPPED at
    _DEFAULT_MAX_WRITE_PARTITIONS: on a wide cluster the uncapped
    width would open cluster-width concurrent connections — past
    common server ceilings (Postgres ships max_connections=100).
    Simulated by raising shuffle.partitions above the cap: with more
    distinct keys than the cap, connections stay <= cap."""
    import os
    import uuid

    from airflow_jira_etl_spark.session import scoped_conf
    from airflow_jira_etl_spark.sinks.jdbc_dialects import (
        _DEFAULT_MAX_WRITE_PARTITIONS,
        write_upsert_jdbc,
    )

    out = str(tmp_path / "conns")
    os.makedirs(out)

    class CountingConn:
        def __init__(self):
            with open(os.path.join(out, uuid.uuid4().hex), "w"):
                pass

        def cursor(self):
            return self

        def executemany(self, sql, batch):
            pass

        def commit(self):
            pass

        def close(self):
            pass

    df = spark.range(300).withColumn("v", F.col("id").cast("string"))
    with scoped_conf(spark, "spark.sql.shuffle.partitions", "200"):
        write_upsert_jdbc(df, "postgres", "t", "id", CountingConn)
    # 300 distinct keys over an uncapped 200-partition write would
    # open ~150+ connections; the cap bounds it
    assert 1 <= len(os.listdir(out)) <= _DEFAULT_MAX_WRITE_PARTITIONS
