"""llm_heavy_hitters: the k-boundary and tie-break semantics a
whole-corpus oracle run can't isolate — plus a pure-Python reference
computation of the exact top-k on a controlled corpus."""

from __future__ import annotations

from collections import Counter

import pytest

from airflow_jira_etl_spark import registry
from tests.docsfix import write_docs_fixture
from tests.oracle_check import compare, duckdb_conn

registry.load_all_queries()

K = 100


def _py_topk(rows) -> list[tuple[str, int, int]]:
    """(gram, freq, doc_freq) top-K by (freq DESC, gram ASC) — the
    reference the engine and oracle must both equal."""
    freq: Counter = Counter()
    docs: dict[str, set] = {}
    for doc_id, text, _lang, _src in rows:
        if text is None:
            continue
        ws = text.lower().split(" ")
        for i in range(len(ws) - 1):
            g = ws[i] + " " + ws[i + 1]
            freq[g] += 1
            docs.setdefault(g, set()).add(doc_id)
    ordered = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[:K]
    return [(g, c, len(docs[g])) for g, c in ordered]


def _boundary_corpus():
    """>K distinct bigrams, ALL tied at freq=1 past a planted head —
    the k-boundary is decided purely by the gram tie-break — plus
    within-doc repetition (freq > doc_freq) and degenerate docs."""
    rows = [
        # planted head: "hot pair" x3 in one doc (freq 3, doc_freq 1)
        (1, "hot pair hot pair hot pair", "en", "s"),
        # 150 singleton bigrams: w000 w001, w002 w003, ... (odd starts
        # keep consecutive pairs from chaining into shared bigrams)
        *[
            (100 + i, f"w{2 * i:03d} w{2 * i + 1:03d}", "en", "s")
            for i in range(150)
        ],
        (900, "solo", "en", "s"),  # single token: no bigram
        (901, "", "en", "s"),  # empty: no bigram
        (902, None, "en", "s"),  # NULL text: no rows
    ]
    return rows


@pytest.fixture(scope="module")
def hh_dir(tmp_path_factory):
    return write_docs_fixture(
        str(tmp_path_factory.mktemp("heavyhit")), _boundary_corpus()
    )


def test_topk_boundary_matches_python_reference(spark, hh_dir):
    rows = _boundary_corpus()
    expect = _py_topk(rows)
    got = [
        (r.gram, r.freq, r.doc_freq)
        for r in registry.QUERIES["llm_heavy_hitters"](spark, hh_dir)
        .orderBy("gram")
        .collect()
    ]
    assert sorted(got) == sorted(expect)
    # the head survived and the boundary cut alphabetically inside the
    # freq=1 tie band: 100 rows total, none beyond the tie-break cut
    assert len(got) == K
    by_gram = dict((g, (f, d)) for g, f, d in got)
    assert by_gram["hot pair"] == (3, 1)
    # "pair hot" appears twice inside doc 1 (freq 2, doc_freq 1) —
    # within-doc repetition splits freq from doc_freq
    assert by_gram["pair hot"] == (2, 1)


def test_oracle_agrees_on_boundary_corpus(spark, hh_dir):
    r = compare(
        registry.QUERIES["llm_heavy_hitters"](spark, hh_dir),
        duckdb_conn(hh_dir),
        registry.ORACLES["llm_heavy_hitters"],
    )
    assert not r["errors"], r["errors"]


def test_fixture_corpus_exercises_the_limit(spark, sf_dir):
    """On the real fixtures the bigram vocabulary (~930) exceeds K, so
    the registered query's LIMIT actually bites — guard against a
    fixture regen quietly shrinking the surface below the boundary."""
    df = registry.QUERIES["llm_heavy_hitters"](spark, sf_dir)
    assert df.count() == K


def test_topk_scales_exactly_under_replication(spark, sf_dir):
    """Replicating the corpus (identical text, strided doc_ids) scales
    every gram's counts uniformly, so no gram can cross the k boundary:
    between a 2x and a 4x corpus the top-k gram set is unchanged and
    freq and doc_freq each scale by exactly 4/2, per gram. The 2x base
    keeps the ratio from passing trivially against an unreplicated
    run."""
    from airflow_jira_etl_spark import catalog
    from airflow_jira_etl_spark.queries.llm_ops import heavy_hitters
    from airflow_jira_etl_spark.tools.replication import (
        key_stride,
        replicate_with_stride,
    )

    docs = catalog.load(spark, sf_dir, "documents").select("doc_id", "text")
    stride = key_stride(docs, "doc_id")

    def topk(mult):
        corpus = replicate_with_stride(docs, "doc_id", mult, stride)
        return {
            r.gram: (r.freq, r.doc_freq)
            for r in heavy_hitters(corpus).collect()
        }

    base, scaled = topk(2), topk(4)
    assert len(base) == K
    assert set(scaled) == set(base)
    for g, (freq, doc_freq) in base.items():
        assert scaled[g][0] * 2 == freq * 4, g
        assert scaled[g][1] * 2 == doc_freq * 4, g
