"""Query registry — the implementation contract from SURVEY.md §2B.

Every named query registers itself here via the ``@query`` decorator:
a Spark callable ``(spark, sf_dir) -> DataFrame`` plus (when the
semantics are SQL-expressible) an equivalent ANSI-SQL oracle string for
DuckDB. ``__spark_entry__.py`` simply re-exports these dicts.

Convention (driver contract): column names must match EXACTLY between
the Spark result and the oracle SQL — alias every computed column on
both sides. Float-computed columns are rounded to 4 dp on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` as query ``name`` with an optional DuckDB oracle.

    Oracles are drift-proofed at registration: TPC-H table references
    are routed through contract-typed CTEs (``oracle_norm.drift_proof``)
    so the DuckDB side stays type-stable under fixture regeneration,
    mirroring what ``catalog.conform`` already guarantees on the Spark
    side. No-op on today's fixtures; tests/test_tpch_drift_sweep.py is
    the behavioral gate."""
    from airflow_jira_etl_spark.oracle_norm import drift_proof

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = drift_proof(oracle)
        return fn

    return deco


def load_all_queries() -> None:
    """Import every query module; registry order is import order."""
    # Imports are deferred so `import airflow_jira_etl_spark` stays cheap.
    from airflow_jira_etl_spark.queries import (  # noqa: F401
        scalar_functions,
        reports,
        sampling,
        streaming_queries,
        timeofday_queries,
        llm_ops,
        llm_extras,
        flagship,
        scans,
        projections,
        joins,
        aggregations,
        windows,
        sorts_sets,
        matview,
        cdc,
        embedding_ops,
    )
