"""llm_decontaminate_bloom: the boolean-contract clauses the registered
oracle can only assert as TRUE literals — no-false-negatives against
planted leaks, the empirical false-positive rate of the bitset
geometry, agreement with the exact path, and the empty-eval edge."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airflow_jira_etl_spark import catalog, registry
from airflow_jira_etl_spark.queries.llm_extras import (
    _BLOOM_FP_BOUND,
    _BLOOM_K,
    _BLOOM_MIN_BITS,
    _bloom_hash_cols,
    _bloom_member_sql,
    _bloom_positions_sql,
    bloom_decontaminate,
    exact_decontaminate,
)
from airflow_jira_etl_spark.tools.replication import (
    key_stride,
    replicate_with_stride,
)
from tests.docsfix import write_docs_fixture
from tests.oracle_check import compare, duckdb_conn

registry.load_all_queries()


def _leak_corpus() -> list[tuple[int, str, str, str]]:
    """Eval docs are doc_id % 97 == 0 (0, 97, 194); plant exact 5-gram
    leaks into some train docs, keep others clean."""
    leak_a = "alpha beta gamma delta epsilon"
    leak_b = "one two three four five"
    filler = "spark filter join scan batch row column merge"
    return [
        (0, f"{leak_a} extra words here now", "en", "eval"),
        (97, f"start pad {leak_b} tail pad words", "en", "eval"),
        # train docs: 1 leaks A, 2 leaks A and B, 3 clean, 4 too short
        (1, f"prefix {leak_a} suffix tokens", "en", "train"),
        (2, f"{leak_a} mid {leak_b} more pad", "en", "train"),
        (3, f"{filler} {filler}", "en", "train"),
        (4, "tiny doc", "en", "train"),
    ]


@pytest.fixture(scope="module")
def leak_dir(tmp_path_factory):
    return write_docs_fixture(
        str(tmp_path_factory.mktemp("bloomleak")), _leak_corpus()
    )


def test_planted_leaks_flagged_and_oracle_agrees(spark, leak_dir):
    out = {
        r.doc_id: r
        for r in registry.QUERIES["llm_decontaminate_bloom"](
            spark, leak_dir
        ).collect()
    }
    # doc 1 shares exactly the 5-gram "alpha..epsilon" (one distinct
    # gram); doc 2 shares grams from both eval docs; 3 and 4 are clean
    assert set(out) == {1, 2}
    assert out[1].n_matched_grams == 1
    assert out[2].n_matched_grams == 2
    for r in out.values():
        assert r.no_false_negatives and r.fp_rate_ok
    # full differential agreement on the same corpus
    r = compare(
        registry.QUERIES["llm_decontaminate_bloom"](spark, leak_dir),
        duckdb_conn(leak_dir),
        registry.ORACLES["llm_decontaminate_bloom"],
    )
    assert not r["errors"], r["errors"]


def test_bloom_counts_equal_exact_path_counts(spark, leak_dir):
    """The bloom variant's n_matched_grams column IS llm_decontaminate's
    output — same grams, same docs (the sketch only adds the contract
    booleans)."""
    exact = {
        (r.doc_id, r.n_matched_grams)
        for r in registry.QUERIES["llm_decontaminate"](
            spark, leak_dir
        ).collect()
    }
    bloom = {
        (r.doc_id, r.n_matched_grams)
        for r in registry.QUERIES["llm_decontaminate_bloom"](
            spark, leak_dir
        ).collect()
    }
    assert exact == bloom


def test_no_eval_docs_yields_empty(spark, tmp_path):
    """A corpus with no doc_id % 97 == 0 rows has an empty eval set:
    the bitset is all zeros and no train doc can match."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta", "en", "t"),
        (2, "alpha beta gamma delta epsilon zeta", "en", "t"),
    ]
    d = write_docs_fixture(str(tmp_path), rows)
    assert registry.QUERIES["llm_decontaminate_bloom"](spark, d).count() == 0


def test_bitset_geometry_no_false_negatives_and_fp_bound(spark):
    """Drive the bitset machinery directly: build from 2,000 member
    strings at the production geometry, probe members (must ALL hit)
    and 20,000 disjoint non-members (empirical FP rate must sit under
    the 2% contract bound — expected ~7e-4 at 16 bits/elem, k=7)."""
    n = 2_000
    m_bits = _BLOOM_MIN_BITS
    while m_bits < 16 * n:
        m_bits <<= 1
    n_words = m_bits // 64


    h1_sql, h2_sql = _bloom_hash_cols(m_bits)
    members = spark.range(n).select(
        F.concat(F.lit("member-gram-"), F.col("id")).alias("g")
    )
    sparse = (
        members.withColumn("h1", F.expr(h1_sql))
        .withColumn("h2", F.expr(h2_sql))
        .select(
            F.explode(F.expr(_bloom_positions_sql(m_bits))).alias("pos")
        )
        .select(
            F.expr("pos DIV 64").alias("w"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))"
            ).alias("bit"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(bit)").alias("word"))
    )
    # range-join densification, the production shape (element_at on a
    # map_from_arrays map is a linear scan — O(n_words^2) to densify)
    bitset = (
        spark.range(n_words)
        .select(F.col("id").alias("w"))
        .join(sparse, "w", "left")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(w, word))), "
                "e -> coalesce(e.word, CAST(0 AS BIGINT)))"
            ).alias("bits")
        )
    )

    def probe(df):
        return (
            df.crossJoin(F.broadcast(bitset))
            .withColumn("h1", F.expr(h1_sql))
            .withColumn("h2", F.expr(h2_sql))
            .withColumn("hit", F.expr(_bloom_member_sql(m_bits)))
        )

    assert probe(members).where("NOT hit").count() == 0  # structural

    outsiders = spark.range(20_000).select(
        F.concat(F.lit("outsider-string-"), F.col("id")).alias("g")
    )
    fp = probe(outsiders).where("hit").count()
    assert fp <= _BLOOM_FP_BOUND * 20_000, f"fp={fp} of 20000"
    assert _BLOOM_K == 7  # geometry the bound was derived for


def test_bloom_matches_exact_under_replication(spark, sf_dir):
    """At 1× and 2× replication: replicas keep their text but get
    strided doc_ids, so each multiple has a different eval slice
    (doc_id % 97 re-scatters per replica) and the operator re-sizes its
    bitset. The Bloom path's (doc_id, n_matched_grams) set must equal
    the exact path's — a per-gram false positive is the sketch's
    contract, but the output counts are exact, so any drift means the
    shared gram builder or the sizing rule broke — and both contract
    booleans must hold on every row."""
    docs = catalog.load(spark, sf_dir, "documents").select("doc_id", "text")
    stride = key_stride(docs, "doc_id")
    for mult in (1, 2):
        corpus = replicate_with_stride(docs, "doc_id", mult, stride)
        bloom = bloom_decontaminate(spark, corpus)
        exact = exact_decontaminate(spark, corpus)
        diff = (
            bloom.select("doc_id", "n_matched_grams")
            .join(
                exact.withColumnRenamed("n_matched_grams", "exact_cnt"),
                "doc_id",
                "full_outer",
            )
            .where(
                F.col("n_matched_grams").isNull()
                | F.col("exact_cnt").isNull()
                | (F.col("n_matched_grams") != F.col("exact_cnt"))
            )
            .count()
        )
        assert diff == 0, f"bloom vs exact diff at {mult}x"
        contract = bloom.agg(
            F.count("*").alias("rows"),
            F.min("no_false_negatives").alias("nfn"),
            F.min("fp_rate_ok").alias("fp"),
        ).first()
        assert contract["rows"] > 0, "fixture must have contaminated docs"
        assert contract["nfn"] and contract["fp"], f"contract at {mult}x"
