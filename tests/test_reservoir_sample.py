"""llm_reservoir_sample: the reservoir properties the whole-corpus
oracle run can't isolate — per-group cap, the exact integer priority
formula vs a Python reference, weight preference, append-stability
(displacement-only growth), and the NULL edges."""

from __future__ import annotations

import pytest

from airflow_jira_etl_spark import registry
from airflow_jira_etl_spark.queries.sampling import (
    _HASH_A,
    _MOD31,
    _RESERVOIR_K,
)
from tests.docsfix import write_docs_fixture
from tests.oracle_check import compare, duckdb_conn

registry.load_all_queries()


def _py_priority(doc_id: int, n_chars: int | None) -> int:
    h = ((doc_id % _MOD31) + _MOD31) % _MOD31 * _HASH_A % _MOD31
    return h * 1_000_000 // max(n_chars or 0, 1)


def _py_sample(rows):
    """{(lang, doc_id, priority, rn)} — the reference selection."""
    by_lang: dict = {}
    for doc_id, text, lang, _src in rows:
        n_chars = len(text) if text is not None else None
        by_lang.setdefault(lang, []).append(
            (_py_priority(doc_id, n_chars), doc_id)
        )
    out = set()
    for lang, docs in by_lang.items():
        for rn, (pri, doc_id) in enumerate(sorted(docs)[:_RESERVOIR_K], 1):
            out.add((lang, doc_id, pri, rn))
    return out


def _corpus(n_per_lang: int = 60):
    rows = []
    i = 0
    for lang in ("en", "de", "fr"):
        for j in range(n_per_lang):
            rows.append((i, "word " * (10 + (i * 7) % 400), lang, "s"))
            i += 1
    rows.append((7000, "tiny", "zz", "s"))  # group smaller than k
    rows.append((7001, None, "zz", "s"))  # NULL text -> weight floor 1
    rows.append((7002, "null lang doc words", None, "s"))  # NULL group
    return rows


@pytest.fixture(scope="module")
def res_dir(tmp_path_factory):
    return write_docs_fixture(
        str(tmp_path_factory.mktemp("reservoir")), _corpus()
    )


def test_selection_matches_python_reference(spark, res_dir):
    got = {
        (r.lang, r.doc_id, r.priority, r.rn)
        for r in registry.QUERIES["llm_reservoir_sample"](
            spark, res_dir
        ).collect()
    }
    assert got == _py_sample(_corpus())
    # per-group cap holds; the undersized groups keep everything
    langs = [g[0] for g in got]
    for lang in ("en", "de", "fr"):
        assert langs.count(lang) == _RESERVOIR_K
    assert langs.count("zz") == 2 and langs.count(None) == 1


def test_oracle_agrees_on_synthetic_corpus(spark, res_dir):
    r = compare(
        registry.QUERIES["llm_reservoir_sample"](spark, res_dir),
        duckdb_conn(res_dir),
        registry.ORACLES["llm_reservoir_sample"],
    )
    assert not r["errors"], r["errors"]


def test_append_is_displacement_only(spark, tmp_path):
    """Growing the corpus can only DISPLACE reservoir members from the
    boundary, never reshuffle them: every original doc still selected
    after the append was also selected before (priorities are pure
    functions of doc_id, so survivors' relative order is fixed)."""
    base = _corpus()
    before = {
        (lang, doc_id)
        for lang, doc_id, _p, _rn in _py_sample(base)
    }
    grown = base + [
        (90_000 + i, "word " * (5 + i % 300), lang, "s")
        for i, lang in enumerate(
            ["en", "de", "fr"] * 30
        )
    ]
    d = write_docs_fixture(str(tmp_path), grown)
    after_rows = registry.QUERIES["llm_reservoir_sample"](spark, d).collect()
    survivors = {
        (r.lang, r.doc_id)
        for r in after_rows
        if r.doc_id is not None and r.doc_id < 90_000
    }
    assert survivors <= before
    # and the engine agrees with the Python reference on the grown set
    got = {(r.lang, r.doc_id, r.priority, r.rn) for r in after_rows}
    assert got == _py_sample(grown)


def test_weight_preference_is_monotone(spark, tmp_path):
    """Same doc_id hash, larger n_chars -> smaller priority. Verify on
    real output: recomputing each row's priority with weight 1 never
    DECREASES it (integer division by a larger weight only shrinks)."""
    d = write_docs_fixture(str(tmp_path), _corpus())
    for r in registry.QUERIES["llm_reservoir_sample"](spark, d).collect():
        if r.doc_id is None:
            continue
        assert r.priority <= _py_priority(r.doc_id, 1)


def test_cap_and_displacement_hold_under_replication(spark, sf_dir):
    """The fixture at 1× and 2× replication with strided doc_ids (fresh
    hash draws per replica): every language holds exactly
    min(k, group size) rows with rn a dense 1..cap prefix, and the
    base-replica documents (doc_id < stride) still selected at 2× are a
    SUBSET of the 1× selection — growth only pushes members off the
    boundary, never admits a base doc that was not already in."""
    from pyspark.sql import functions as F

    from airflow_jira_etl_spark import catalog
    from airflow_jira_etl_spark.queries.sampling import reservoir_sample
    from airflow_jira_etl_spark.tools.replication import (
        key_stride,
        replicate_with_stride,
    )

    docs = catalog.load(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    stride = key_stride(docs, "doc_id")
    picked = {}
    for mult in (1, 2):
        corpus = replicate_with_stride(docs, "doc_id", mult, stride)
        sample = reservoir_sample(corpus)
        # NULL lang is a real reservoir group, so the join is null-safe
        # and the counters are coalesced to distinct sentinels: a group
        # present on one side only counts as a violation instead of
        # nulling the predicate
        want = corpus.groupBy("lang").agg(F.count("*").alias("n"))
        got = sample.groupBy(F.col("lang").alias("s_lang")).agg(
            F.count("*").alias("got"), F.max("rn").alias("max_rn")
        )
        bad = (
            want.join(
                got, F.col("lang").eqNullSafe(F.col("s_lang")), "full_outer"
            )
            .where(
                (
                    F.coalesce(F.col("got"), F.lit(-1))
                    != F.least(
                        F.coalesce(F.col("n"), F.lit(-2)),
                        F.lit(_RESERVOIR_K),
                    )
                )
                | (
                    F.coalesce(F.col("max_rn"), F.lit(-1))
                    != F.coalesce(F.col("got"), F.lit(-2))
                )
            )
            .count()
        )
        assert bad == 0, f"cap violated at {mult}x"
        picked[mult] = {
            (r.lang, r.doc_id)
            for r in sample.where(F.col("doc_id") < stride).collect()
        }
    assert picked[1] and picked[2] <= picked[1]
