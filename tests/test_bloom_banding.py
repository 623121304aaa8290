"""Bloom decontamination on the sf0.001 fixture: the one-bitset build's
matched-gram counts must equal the exact path's, so the Bloom query's
n_matched_grams column is grounded on real fixture data as well as on
the planted-leak corpus of tests/test_bloom_decontaminate.py."""

from __future__ import annotations

import pytest

from airflow_jira_etl_spark import catalog, registry

registry.load_all_queries()

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def bloom_rows(spark):
    from airflow_jira_etl_spark.queries.llm_extras import bloom_decontaminate

    docs = catalog.load(spark, SF_DIR, "documents")
    return sorted(
        (r.doc_id, r.n_matched_grams, r.no_false_negatives, r.fp_rate_ok)
        for r in bloom_decontaminate(spark, docs).collect()
    )


def test_single_band_matches_exact_oracle_contract(spark, bloom_rows):
    """The Bloom output's matched-gram counts equal the exact unhinted
    join's (llm_decontaminate's body is the semantic anchor), with the
    contract booleans TRUE on every row."""
    exact = {
        (r.doc_id, r.n_matched_grams)
        for r in registry.QUERIES["llm_decontaminate"](
            spark, SF_DIR
        ).collect()
    }
    assert bloom_rows, "fixture must actually have contaminated docs"
    assert {(d, n) for d, n, _nf, _fp in bloom_rows} == exact
    assert all(nf and fp for _d, _n, nf, fp in bloom_rows)
