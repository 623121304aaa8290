"""Oracle-differential gate: every registered SQL-oracled query must
match DuckDB on the same parquet (the driver's t2 check, locally)."""

from __future__ import annotations

import pytest

from airflow_jira_etl_spark import registry
from tests.oracle_check import compare, duckdb_conn

registry.load_all_queries()

SQL_QUERIES = sorted(registry.ORACLES)
ROWS_ONLY = sorted(set(registry.QUERIES) - set(registry.ORACLES))


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_conn(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", SQL_QUERIES)
def test_oracle_match(name, spark, sf_dir, con):
    df = registry.QUERIES[name](spark, sf_dir)
    report = compare(df, con, registry.ORACLES[name])
    assert not report["errors"], f"{name}: {report['errors']}"


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_runs(name, spark, sf_dir):
    df = registry.QUERIES[name](spark, sf_dir)
    assert df.count() >= 0


def test_tz_aware_oracle_fails_locally(con):
    """A TIMESTAMPTZ oracle column (e.g. bare DuckDB ``to_timestamp()``)
    must fail the local harness the same way it fails the driver's
    schema/hash check — never be silently normalized away."""
    from tests.oracle_check import canon_rows

    rows = con.execute("SELECT to_timestamp(0) AS t").fetchall()
    assert rows[0][0].tzinfo is not None  # precondition: DuckDB gives tz-aware
    with pytest.raises(TypeError, match="tz-aware"):
        canon_rows(["t"], rows)


def test_every_registered_query_has_an_oracle():
    """The driver has no rows-only mode (it records err=no_oracle), so
    an oracle-less registration would silently forfeit its correctness
    evidence. Engine-specific outputs belong behind a boolean-contract
    oracle (see agg_approx_distinct / llm_sim_ivf_topk), not behind a
    missing one."""
    assert not ROWS_ONLY, f"queries without a SQL oracle: {ROWS_ONLY}"
