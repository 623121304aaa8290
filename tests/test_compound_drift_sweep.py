"""Compound drift: EVERY fixture family drifted at once.

The per-family sweeps (tpch spec types, events nanos, non-TPC-H types)
each rewrite one table family and hold the rest constant — so a query
that reads TWO families (events⋈orders funnels, documents+embeddings
joins) is only ever tested with one side drifted. This sweep composes
every physical drift simultaneously:

- TPC-H tables at spec types (DECIMAL money / DATE dates / INT32 keys)
- events at TIMESTAMP(NANOS) with sub-µs jitter AND decimal value AND
  int32 ids
- embeddings as float64 vectors
- documents with int32 ids/counters

and re-runs the ENTIRE SQL-oracle registry. Passing here means the
contract-typing layers (catalog.conform on Spark, oracle_norm contract
CTEs on DuckDB) compose across table families, not just per family."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from airflow_jira_etl_spark import catalog, registry
from tests.oracle_check import compare, duckdb_conn
from tests.test_events_type_drift_sweep import _narrow_ints
from tests.test_tpch_drift_sweep import _DRIFT, TPCH, _drift_table

registry.load_all_queries()

SRC = "/root/testdata/sf0.01"
N_EVENTS = 4000  # match the ns sweep's bound; keeps the sweep fast


@pytest.fixture(scope="module")
def compound_fixture(tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("compound"))

    for t in TPCH:
        drifted = _drift_table(
            pq.read_table(catalog.table_path(SRC, t)), _DRIFT[t]
        )
        pq.write_table(
            drifted, os.path.join(tmp, f"{t}.parquet"), store_schema=False
        )

    ev = pq.read_table(catalog.table_path(SRC, "events")).slice(0, N_EVENTS)
    us = ev.column("ts").cast(pa.int64()).to_pylist()
    eid = ev.column("event_id").to_pylist()
    ns = [u * 1000 + (e % 1000) for u, e in zip(us, eid)]
    ev = ev.set_column(
        ev.schema.get_field_index("ts"), "ts", pa.array(ns, pa.timestamp("ns"))
    )
    ev = ev.set_column(
        ev.schema.get_field_index("value"),
        "value",
        ev.column("value").cast(pa.decimal128(18, 6)),
    )
    ev = _narrow_ints(ev, ("event_id", "user_id"))
    pq.write_table(ev, os.path.join(tmp, "events.parquet"), store_schema=False)

    docs = pq.read_table(catalog.table_path(SRC, "documents"))
    docs = _narrow_ints(docs, ("doc_id", "n_chars"))
    pq.write_table(
        docs, os.path.join(tmp, "documents.parquet"), store_schema=False
    )

    em = pq.read_table(catalog.table_path(SRC, "embeddings"))
    em = em.set_column(
        em.schema.get_field_index("embedding"),
        "embedding",
        em.column("embedding").cast(pa.list_(pa.float64())),
    )
    pq.write_table(
        em, os.path.join(tmp, "embeddings.parquet"), store_schema=False
    )
    return tmp


def test_nothing_is_left_undrifted(compound_fixture):
    for t in catalog.TABLES:
        assert os.path.isfile(catalog.table_path(compound_fixture, t))
    s = pq.read_schema(catalog.table_path(compound_fixture, "lineitem"))
    assert s.field("l_extendedprice").type == pa.decimal128(12, 2)
    s = pq.read_schema(catalog.table_path(compound_fixture, "events"))
    assert s.field("value").type == pa.decimal128(18, 6)


def test_entire_registry_survives_compound_drift(spark, compound_fixture):
    """All SQL-oracle queries, every fixture family drifted at once."""
    con = duckdb_conn(compound_fixture)
    failures = {}
    for name, sql in registry.ORACLES.items():
        try:
            r = compare(
                registry.QUERIES[name](spark, compound_fixture), con, sql
            )
            if r["errors"]:
                failures[name] = r["errors"][:2]
        except Exception as exc:  # noqa: BLE001 — collect, report below
            failures[name] = [f"raised: {exc!r:.200}"]
    assert not failures, (
        f"{len(failures)} oracle(s) diverge under compound drift: {failures}"
    )


# The r07 rows-only -> oracle conversions made four queries' hashed
# surface a BOOLEAN CONTRACT (the oracle side emits literal TRUEs).
# The registry sweep above proves Spark == oracle — but that indirect
# route would go silent if an oracle ever stopped being literal. These
# assertions pin the contracts themselves, directly on the Spark
# result, under compound drift.
_BOOLEAN_CONTRACTS = {
    "agg_approx_distinct": ("within_tol",),
    "agg_approx_quantiles": ("p25_ok", "p50_ok", "p75_ok"),
    "llm_decontaminate_bloom": ("no_false_negatives", "fp_rate_ok"),
    "llm_sim_ivf_topk": (
        "k_exhausted",
        "subset_exact",
        "assign_parity",
        "count_parity",
    ),
}


def test_boolean_contracts_hold_under_compound_drift(spark, compound_fixture):
    """Every contract boolean is TRUE on every row of the drifted run
    (not merely hash-stable against its oracle)."""
    bad = {}
    for name, cols in _BOOLEAN_CONTRACTS.items():
        rows = registry.QUERIES[name](spark, compound_fixture).collect()
        assert rows, f"{name}: empty result under compound drift"
        flips = [
            (r, c) for r in rows for c in cols if r[c] is not True
        ]
        if flips:
            bad[name] = flips[:3]
    assert not bad, f"contract booleans flipped under compound drift: {bad}"


def test_rest_datasource_contract_is_fixture_independent(
    spark, compound_fixture
):
    """source_rest_datasource reads the deterministic API emulator, not
    the parquet fixtures — its fully-hashed contract (69 even ids with
    the priority filter forwarded to the API) must be identical no matter how the
    fixture dir drifts. The fourth r07 oracle conversion, armored here
    without DuckDB in the loop."""
    rows = registry.QUERIES["source_rest_datasource"](
        spark, compound_fixture
    ).collect()
    got = sorted((r["id"], r["key"], r["priority"]) for r in rows)
    want = sorted(
        (str(i), f"PROJ-{i}", "high") for i in range(0, 137) if i % 2 == 0
    )
    assert got == want
