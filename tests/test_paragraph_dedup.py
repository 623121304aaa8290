"""paragraph_dedup edge paths the registered query's oracle can't
isolate on the real corpus: planted exact twins, within-doc
repetition, empty-token round-trips, and the first-occurrence
tie-break order."""

from __future__ import annotations

from airflow_jira_etl_spark.queries.llm_extras import paragraph_dedup


def _run(spark, rows):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return {r.doc_id: r for r in paragraph_dedup(df).collect()}


def test_exact_twin_reassembles_to_empty(spark):
    """The second copy of a fully-duplicated 8-word doc keeps ZERO
    segments and reassembles to '' (not NULL, not a partial)."""
    text = "a b c d e f g h"
    out = _run(spark, [(1, text), (2, text)])
    assert out[1].n_segs == 2 and out[1].n_kept == 2
    assert out[1].clean_text == text
    assert out[2].n_segs == 2 and out[2].n_kept == 0
    assert out[2].clean_text == ""


def test_replication_keeps_survivors_and_doubles_segments(spark, sf_dir):
    """The fixture replicated 2× with identical text and strided
    doc_ids: every replica-1 segment loses the first-occurrence race to
    its replica-0 twin, so sum(n_kept) equals the 1× value while
    sum(n_segs) exactly doubles. A drift means the argmin tie-break
    leaked across replicas (the encoded-BIGINT ordering broke)."""
    from pyspark.sql import functions as F

    from airflow_jira_etl_spark import catalog
    from airflow_jira_etl_spark.tools.replication import (
        key_stride,
        replicate_with_stride,
    )

    docs = catalog.load(spark, sf_dir, "documents").select("doc_id", "text")
    stride = key_stride(docs, "doc_id")
    kept, segs = zip(
        *(
            paragraph_dedup(replicate_with_stride(docs, "doc_id", m, stride))
            .agg(F.sum("n_kept"), F.sum("n_segs"))
            .first()
            for m in (1, 2)
        )
    )
    assert kept[0] > 0
    assert kept[1] == kept[0]
    assert segs[1] == 2 * segs[0]


def test_first_occurrence_is_doc_then_segment_order(spark):
    """A segment seen twice WITHIN one doc keeps its first position;
    across docs the lower doc_id wins regardless of segment index."""
    # doc 1: segment "x y z w" at idx 0 and again at idx 1
    out = _run(spark, [(1, "x y z w x y z w"), (2, "q r s t x y z w")])
    assert out[1].n_kept == 1 and out[1].clean_text == "x y z w"
    # doc 2 keeps its own first segment, loses the shared one
    assert out[2].n_kept == 1 and out[2].clean_text == "q r s t"


def test_partial_tail_segment_and_empty_tokens_round_trip(spark):
    """A non-multiple-of-4 doc ends in a short segment; doubled and
    trailing spaces survive split+join byte-identically."""
    out = _run(spark, [(1, "a  b c"), (2, "tail x y z w v")])
    # 'a  b c' splits to ['a','','b','c'] -> one 4-token segment
    assert out[1].n_segs == 1 and out[1].clean_text == "a  b c"
    # 6 words -> segments of 4 and 2; reassembly restores the text
    assert out[2].n_segs == 2 and out[2].clean_text == "tail x y z w v"


def test_null_text_docs_drop_and_empty_text_is_one_segment(spark):
    """NULL text contributes no rows (the llm-family zero-rows
    convention); empty text is one empty segment that dedups across
    docs like any other segment."""
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in paragraph_dedup(df).collect()}
    assert 1 not in out
    assert out[2].n_kept == 1 and out[2].clean_text == ""
    assert out[3].n_kept == 0 and out[3].clean_text == ""


def test_int32_edge_doc_id_keeps_encoded_argmin_exact(spark):
    """doc_id at the INT32 edge times 2^20 must stay an exact BIGINT:
    the higher doc_id loses to the lower one, never the reverse."""
    text = "p q r s"
    out = _run(spark, [(2_147_483_646, text), (2_147_483_647, text)])
    assert out[2_147_483_646].n_kept == 1
    assert out[2_147_483_647].n_kept == 0


def test_encoding_contract_is_runtime_enforced(spark):
    """|doc_id| >= 2^43 (and seg_idx >= 2^20) must RAISE, not silently
    collide encodings across doc_ids. The guard lives inside the
    encoding expression, so any consumer path trips it."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    # INT64_MIN is the edge case: the guard compares the range
    # explicitly instead of abs(), so the extreme still raises the
    # CONTRACT message, not an ANSI abs() overflow error.
    for bad_doc in (1 << 43, -(1 << 43), -(1 << 63)):
        with pytest.raises(
            SparkRuntimeException, match="encoding contract violated"
        ):
            _run(spark, [(bad_doc, "a b c d")])
    # boundary values still pass (2^43 - 1 is the last legal doc_id)
    out = _run(spark, [((1 << 43) - 1, "a b c d"), (5, "a b c d")])
    assert out[5].n_kept == 1 and out[(1 << 43) - 1].n_kept == 0


def test_seg_idx_guard_trips_on_a_4m_word_document(spark):
    """A single document long enough to overflow seg_idx (>= 2^20
    four-word segments, i.e. > 2^22 words) raises instead of wrapping
    into the next doc_id's key space."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    n_words = (1 << 22) + 8  # 4,194,312 words -> max seg_idx 2^20 + 1
    text = " ".join(["w"] * n_words)
    with pytest.raises(SparkRuntimeException, match="encoding contract violated"):
        _run(spark, [(1, text)])


# ---------------------------------------------------------------------------
# Property test vs a pure-Python reference (the test_mapping_property
# pattern): tiny vocab forces heavy cross-doc segment collisions, so
# the first-occurrence race is exercised, not just the happy path.
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


def _reference(docs: list[tuple[int, str | None]]) -> dict[int, tuple]:
    """First-occurrence paragraph dedup, row-at-a-time."""
    seen: dict[str, tuple[int, int]] = {}
    segs_by_doc: dict[int, list[tuple[int, str]]] = {}
    for doc_id, text in sorted(docs):
        if text is None:
            continue
        w = text.split(" ")  # Python split(' ') keeps empty tokens
        segs = [
            " ".join(w[i * 4 : i * 4 + 4])
            for i in range((len(w) + 3) // 4)
        ]
        segs_by_doc[doc_id] = list(enumerate(segs))
        for idx, s in segs_by_doc[doc_id]:
            if s not in seen or (doc_id, idx) < seen[s]:
                seen[s] = (doc_id, idx)
    out = {}
    for doc_id, segs in segs_by_doc.items():
        kept = [(i, s) for i, s in segs if seen[s] == (doc_id, i)]
        out[doc_id] = (
            len(segs),
            len(kept),
            " ".join(s for _, s in kept),
        )
    return out


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(data=st.data())
def test_paragraph_dedup_matches_reference(spark, data):
    vocab = ["a", "b", "cc", ""]  # tiny vocab + empty token
    n_docs = data.draw(st.integers(min_value=1, max_value=12))
    docs = []
    for doc_id in range(n_docs):
        if data.draw(st.booleans(), label=f"null_{doc_id}") and doc_id == 0:
            docs.append((doc_id, None))
            continue
        n = data.draw(st.integers(min_value=0, max_value=20), label=f"n_{doc_id}")
        words = [
            data.draw(st.sampled_from(vocab), label=f"w_{doc_id}_{i}")
            for i in range(n)
        ]
        docs.append((doc_id, " ".join(words)))
    ref = _reference(docs)
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_segs, r.n_kept, r.clean_text)
        for r in paragraph_dedup(df).collect()
    }
    assert got == ref
