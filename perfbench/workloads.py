"""The workloads. Each is a closed loop with one client (an Airflow task
or an analyst session) that waits for every pipeline run or query before
it issues the next.

* ``etl_upsert``: the paper's pipeline. Each pass runs the three entity
  pipelines against the seeded emulator into fresh tables. One operation
  is one upsert apply: from a fetched page (or the fanned-out issue
  extract) to a committed generation. After the passes the last worklog
  page is replayed once and the tables are checked.
* ``query_mix``: registered queries over the generated catalog, in a
  per-pass order drawn from the seed: analytics (planning, shuffles,
  joins), LLM corpus and UDF/UDTF (Python workers, caches that later
  queries of the same pass reuse) and an availableNow stream
  (micro-batch phases). It writes no upsert table, so a change to the
  sink should leave it unchanged, and the pipelines use no stream, so a
  change to streaming should leave ``etl_upsert`` unchanged. One
  operation is one query: construct plus ``.count()``.

The query set is small because a Spark session costs ~10 s to start,
the JVM needs a few passes to compile its hot paths, and every run of
the benchmark must fit its time budget.
"""

from __future__ import annotations

import os
import random
import shutil
import time

from perfbench import emulator

QUERY_SETS = {
    "query_mix": [
        # analytics: planning, shuffles and joins in the JVM
        "agg_group_sum",
        "join_inner_equi",
        "report_market_share",
        # LLM corpus and UDF/UDTF: Python workers and caches
        "llm_text_stats",
        "llm_decontaminate",  # these two share one cached gram frame
        "llm_decontaminate_bloom",
        "udf_pandas_vectorized",
        "udtf_explode_kv",
        # availableNow stream: micro-batch phases
        "stream_tumbling_count",
    ],
}

WORKLOADS = ("etl_upsert", *QUERY_SETS)

# Page sizes as in production traffic (100 issues per offset page, 1000
# worklogs per cursor page, 2000 users on one page); page counts cut from
# 200 and 20 so that a run fits the time budget of ~60 s. On a 4-core
# host a warm pass at the full counts took 29 s (worklogs 23 s at ~1.1 s
# per apply) after a 59 s set-up, a run 125 s; at these counts a warm
# pass takes 6.6-12 s, the upper end when other tenants of the host took
# 10-15 % of its CPU time.
ETL_SIZES = emulator.Sizes(
    issue_pages=10, issues_per_page=100, worklog_pages=3, worklogs_per_page=1000, users=2000
)
# The set-up's warm pass: the same pipelines and plans (a fanned-out
# issue extract, two cursor pages, the second with updates) on fewer
# records. It loads and compiles what the measured passes run; on a
# 4-core host it takes ~15 s against ~19 s for a cold pass at ETL_SIZES.
WARM_SIZES = emulator.Sizes(
    issue_pages=2, issues_per_page=100, worklog_pages=2, worklogs_per_page=200, users=200
)
ISSUES_URL = "https://jira/rest/api/2/search"
WORKLOGS_URL = "https://tempo/4/worklogs"
USERS_URL = "https://jira/rest/api/3/users/search"


def query_order(workload: str, seed: int, pass_no: int) -> list[str]:
    """A seeded shuffle for each pair of passes, run forwards and then
    backwards, so that over an even number of passes each query of a
    pair that shares a cache runs first equally often: which one pays for
    the cache then does not depend on the seed."""
    names = list(QUERY_SETS[workload])
    random.Random(f"{seed}:{workload}:{pass_no // 2}").shuffle(names)
    return names[::-1] if pass_no % 2 else names


def run_query_pass(spark, tracer, names, cat_dir, expected, errors) -> list[float]:
    """One pass over ``names``; returns per-query latencies. A raised
    exception or a row count that differs from the DuckDB oracle counts
    as an error."""
    from airflow_jira_etl_spark import registry

    lat = []
    for name in names:
        fn = registry.QUERIES[name]
        with tracer.span(name, "query") as s:
            try:
                with tracer.group(s, eager=True):
                    df = fn(spark, cat_dir)
                s.construct = time.perf_counter() - s.t0
                with tracer.group(s):
                    n = df.count()
            except Exception as exc:  # noqa: BLE001 — counted, reported at the end
                errors.append(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
                n = None
        lat.append(s.dt)
        if n is not None and expected is not None and n != expected[name]:
            errors.append(f"{name}: {n} rows, oracle {expected[name]}")
        if tracer.traced:
            rdds, nbytes = tracer.cache_residency()
            tracer.counts["cache.rdds_resident"] = max(tracer.counts["cache.rdds_resident"], rdds)
            tracer.counts["cache.bytes_resident"] = max(
                tracer.counts["cache.bytes_resident"], nbytes
            )
    # caches live for the whole pass, so a query can reuse what an
    # earlier one cached (the seeded order decides which); as in
    # bench.py they are dropped between passes, outside the timed queries
    spark.catalog.clearCache()
    return lat


def oracle_counts(cat_dir: str, names: list[str]) -> dict[str, int]:
    """Row count of each query's DuckDB oracle over the same catalog."""
    import duckdb

    from airflow_jira_etl_spark import catalog, registry

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        for t in catalog.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{catalog.table_path(cat_dir, t)}'"
            )
        out = {}
        for name in names:
            sql = registry.ORACLES[name].strip().rstrip(";")
            out[name] = con.execute(f"SELECT count(*) FROM (\n{sql}\n) AS q").fetchone()[0]
        return out
    finally:
        con.close()


class EtlRun:
    """The entity pipelines against one seeded emulator."""

    def __init__(self, spark, seed: int, table_root: str, sizes: emulator.Sizes = ETL_SIZES):
        self.spark = spark
        self.seed = seed
        self.root = table_root
        self.sizes = sizes
        self.issues = emulator.IssuesEndpoint(seed, sizes)
        self.worklogs = emulator.WorklogsEndpoint(seed, sizes)
        self.users = emulator.UsersEndpoint(sizes)

    def run_pass(self) -> dict[str, float]:
        """Fresh tables and the three pipelines; returns the wall time of
        each."""
        from airflow_jira_etl_spark import pipeline

        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.root)
        steps = {
            "issues": lambda: pipeline.issues_pipeline(
                self.spark, self.issues, ISSUES_URL, self.root
            ).run({}),
            "worklogs": lambda: pipeline.worklog_pipeline(
                self.spark, self.worklogs, WORKLOGS_URL, self.root
            ).run({}),
            "users": lambda: pipeline.users_pipeline(
                self.spark, self.users, USERS_URL, self.root
            ).run({}),
        }
        out = {}
        for step, fn in steps.items():
            t0 = time.perf_counter()
            fn()
            out[step] = time.perf_counter() - t0
        return out

    def replay(self) -> float:
        """Apply the last worklog page again, as a retried Airflow task
        would; returns its wall time."""
        from airflow_jira_etl_spark import pipeline
        from airflow_jira_etl_spark.entities import WORKLOG_MAPPING
        from airflow_jira_etl_spark.sinks.parquet_upsert import ParquetUpsertTable

        t0 = time.perf_counter()
        ParquetUpsertTable(
            self.spark, os.path.join(self.root, "worklogs"), key="tempo_worklog_id"
        ).apply(
            pipeline.records_to_flat_df(
                self.spark, self.worklogs.page(self.sizes.worklog_pages - 1), WORKLOG_MAPPING
            )
        )
        return time.perf_counter() - t0

    def table_state(self) -> dict[str, dict[str, str]]:
        from airflow_jira_etl_spark.sinks.parquet_upsert import ParquetUpsertTable

        state = {}
        for table, (key, col) in emulator.CHECKED_COLUMNS.items():
            df = ParquetUpsertTable(self.spark, os.path.join(self.root, table), key=key).read()
            state[table] = {str(r[0]): str(r[1]) for r in df.select(key, col).collect()}
        return state

    def check(self, errors: list[str]) -> float:
        """Each table's key set and, per key, one updated column must
        match the last-writer-wins model, before and after a replay of
        the last worklog page. Returns the replay's wall time."""
        want = emulator.expected_tables(self.seed, self.sizes)
        before = self.table_state()
        replay_s = self.replay()
        after = self.table_state()
        if after != before:
            errors.append("replaying the last worklog page changed the tables")
        for table, model in want.items():
            got = after[table]
            if set(got) != set(model):
                errors.append(
                    f"{table}: {len(got)} keys, model {len(model)} "
                    f"({len(set(got) ^ set(model))} differ)"
                )
            elif got != model:
                wrong = sum(got[k] != v for k, v in model.items())
                errors.append(f"{table}: {wrong} keys hold a value the model does not")
        return replay_s

    def rows(self) -> int:
        """Records ingested per pass."""
        s = self.sizes
        return s.issues + s.worklog_pages * s.worklogs_per_page + s.users
