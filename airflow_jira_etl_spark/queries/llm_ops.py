"""North-star LLM-data-pipeline operators — SURVEY.md §2B "North-star".

Dedup, similarity search, text analysis and the UDF/UDAF/UDTF surfaces
over the ``documents``/``embeddings`` fixtures — the training-data
operations a 100 TB pipeline needs. Scale design per operator is noted
inline; the common rule: candidate generation must be (near-)linear
(LSH buckets, band blocking), never an unblocked quadratic self-join.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from airflow_jira_etl_spark import catalog
from airflow_jira_etl_spark.functions.rounding import fround
from airflow_jira_etl_spark.functions.similarity import cosine, cosine_sql
from airflow_jira_etl_spark.functions.textgrams import (
    char_gram_sql,
    with_char_gram_hashes,
)
from airflow_jira_etl_spark.registry import query


# ---------------------------------------------------------------- dedup

@query(
    "llm_dedup_exact",
    oracle="""
    SELECT min(doc_id) AS doc_id,
           lower(trim(text)) AS norm_text,
           count(*) AS n_dups
    FROM documents
    GROUP BY lower(trim(text))
    """,
)
def llm_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized text. Keeper choice is deterministic
    (min doc_id), not arrival order — at scale "first seen" is
    partition-order-dependent and non-reproducible. One hash shuffle
    on the normalized text; at 100 TB, hash the text first
    (sha2) so the shuffle key is 32 bytes, not the document."""
    documents = catalog.load(spark, sf_dir, "documents")
    return (
        documents.groupBy(F.lower(F.trim(F.col("text"))).alias("norm_text"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count("*").alias("n_dups"),
        )
        .select("doc_id", "norm_text", "n_dups")
    )


# Portable MinHash family for the word-shingle dedup query: same affine
# permutation scheme as the n-gram family below, but over WORD-3-shingle
# hashes with a 16-hash / 4-band / 4-row geometry. Each word is hashed
# once with the same length/first/last-codepoint polynomial the simhash
# oracle uses (_word_hash_duck/_word_hash_spark — one definition, two
# engines) and a shingle hash is an affine combine of three word
# hashes, so DuckDB reproduces every value bit-for-bit. Words that
# share (length, first codepoint, last codepoint) hash alike. This is
# the package's only word-shingle MinHash: llm_dedup_minhash,
# llm_containment_pairs and llm_dedup_clusters all run it.
_MH_P = 1048573
_MH_SEEDS = [
    (37, 126), (101, 4373), (499, 9973), (1009, 11317),
    (2003, 30011), (4999, 70001), (7919, 104729), (12553, 131071),
    (17389, 262139), (27449, 524287), (39161, 2), (52361, 777),
    (65437, 88888), (78787, 12345), (93179, 55555), (104681, 99991),
]
_MH_BANDS = 4
_MH_ROWS = 4
_MH_TAU = 0.5


def _word_hash_duck(w: str) -> str:
    """DuckDB form of the portable word hash — ONE definition feeding
    the minhash CTE and the simhash oracle so the polynomial (and its
    INT32-overflow BIGINT casts: DuckDB ascii() is INT32 and a
    non-ASCII codepoint × 65599 overflows) cannot drift between them.
    `_word_hash_spark` below is the byte-for-byte Spark twin."""
    return (
        f"(length({w}) * 2654435761"
        f" + CAST(ascii({w}) AS BIGINT) * 40503"
        f" + CAST(ascii(reverse({w})) AS BIGINT) * 65599) % {_MH_P}"
    )


def _word_hash_spark(w: str) -> str:
    """Spark SQL-expression form of the SAME word hash (`L` literals
    force int64 before the multiply — an int×int product would wrap
    silently on non-ASCII codepoints)."""
    return (
        f"(length({w}) * 2654435761L + ascii({w}) * 40503L"
        f" + ascii(reverse({w})) * 65599L) % {_MH_P}"
    )


def _lsh_pairs_sql(
    grams_with: str,
    seeds: list[tuple[int, int]],
    p: int,
    n_bands: int,
    n_rows: int,
) -> str:
    """The ONE DuckDB generator for the banded-LSH CTE chain
    (signature → band self-join → exact verify) ending in
    `scored(id1, id2, j, containment)`. ``grams_with`` is a WITH-chain
    whose final CTE is ``grams(doc_id, hs)``; every banded oracle
    (minhash word-shingles, char-4-gram Jaccard, clusters' pair feed)
    passes its own grams chain + seed geometry through here, so the
    bands/candidates/verify SQL can never drift between them — the
    exact parity twin of `_lsh_band_pairs` on the Spark side."""
    mh_cols = ",\n               ".join(
        f"list_min([ (h * {a} + {b}) % {p} FOR h IN hs ]) AS mh{s}"
        for s, (a, b) in enumerate(seeds)
    )
    band_selects = "\n        UNION ALL ".join(
        "SELECT doc_id, {i} AS band_id, {hs} FROM sig".format(
            i=i,
            hs=", ".join(
                f"mh{n_rows * i + r} AS h{r}" for r in range(n_rows)
            ),
        )
        for i in range(n_bands)
    )
    h_eq = " AND ".join(f"a.h{r} = b.h{r}" for r in range(n_rows))
    return f"""
    {grams_with},
    sig AS (
        SELECT doc_id, list_distinct(hs) AS hset,
               {mh_cols}
        FROM grams
    ),
    bands AS (
        {band_selects}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
        FROM bands a
        JOIN bands b ON a.band_id = b.band_id AND {h_eq}
                     AND a.doc_id < b.doc_id
    ),
    scored AS (
        SELECT c.id1, c.id2,
               CAST(len(list_intersect(sa.hset, sb.hset)) AS DOUBLE)
                 / len(list_distinct(list_concat(sa.hset, sb.hset))) AS j,
               CAST(len(list_intersect(sa.hset, sb.hset)) AS DOUBLE)
                 / least(len(sa.hset), len(sb.hset)) AS containment
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.id1
        JOIN sig sb ON sb.doc_id = c.id2
    )
    """


def _mh_pairs_cte() -> str:
    """The shared DuckDB CTE chain (shingle → signature → band join →
    Jaccard verify) ending in `scored(id1, id2, j, containment)`;
    llm_dedup_minhash, llm_containment_pairs and llm_dedup_clusters'
    oracles all build on it, generated from the same seed table so the
    engines can never drift. NOTE: consumers rewrite the leading
    "WITH toks" (llm_extras' clusters oracle makes it RECURSIVE) — the
    grams chain must keep that prefix."""
    grams_with = f"""WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ),
    wh AS (
        SELECT doc_id,
               list_concat([ {_word_hash_duck("w")}
                             FOR w IN t ], [0, 0]) AS w
        FROM toks
    ),
    grams AS (
        SELECT doc_id,
               [ (w[i] * 40503 + w[i+1] * 65599 + w[i+2]) % {_MH_P}
                 FOR i IN range(1, greatest(len(w) - 4, 1) + 1) ] AS hs
        FROM wh
    )"""
    return _lsh_pairs_sql(grams_with, _MH_SEEDS, _MH_P, _MH_BANDS, _MH_ROWS)


def _mh_oracle() -> str:
    return (
        _mh_pairs_cte()
        + f"""
    SELECT id1, id2, round(j + 1e-9, 4) AS jaccard
    FROM scored WHERE j >= {_MH_TAU}
    """
    )


@query("llm_dedup_minhash", oracle=_mh_oracle())
def llm_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs via word-3-shingle MinHash-LSH: linear in-array
    signature pass → narrow band-bucket self-join (band_id + 4 minhash
    longs per row) → exact Jaccard verify on surviving pairs only —
    16 hashes, 4 bands × 4 rows, from a portable affine family so the
    DuckDB oracle checks every value. tests/test_operators.py checks
    its recall on planted near-dups."""
    documents = catalog.load(spark, sf_dir, "documents")
    return minhash_pairs_portable(documents).select(
        "id1", "id2", fround(F.col("j")).alias("jaccard")
    )


def _lsh_band_pairs(
    grams: DataFrame,
    seeds: list[tuple[int, int]],
    p: int,
    n_bands: int,
    n_rows: int,
) -> DataFrame:
    """The ONE Spark generator for banded MinHash-LSH candidates:
    ``grams`` is any frame with (doc_id long, hs array<long>); returns
    (id1, id2, h1, h2) — band-collided pairs with both distinct gram
    sets re-attached for the caller's exact verify. The parity twin of
    `_lsh_pairs_sql` on the oracle side; both the word-shingle and
    char-4-gram families pass their gram pass + seed geometry through
    here, so the bands→candidates→re-attach machinery cannot drift
    between them.

    Shape (the 100 TB contract): the signature pass explodes each
    row's DISTINCT gram set and folds all seeds' minima in one
    hash-aggregate keyed on doc_id — ``grams`` arrives hash-partitioned
    by doc_id from both callers, so the aggregate needs NO exchange,
    and every (h·a+b) mod p + min combine runs in the JVM aggregate
    path instead of the interpreted higher-order-function evaluator
    (one ``array_min(transform(...))`` per seed never enters codegen,
    so a per-seed form pays 16–18 interpreted array passes per row —
    measured 2.2× slower on this family). Minima over the
    distinct set equal minima over the multiset (affine maps are
    elementwise), and the distinct set is what the verify needs anyway.
    The frame is cached and filled EAGERLY because three consumers
    read it (both band-join sides + the verify re-attach) and a lazy
    cache would race them into computing signatures twice
    concurrently. Past the signature scan everything is narrow
    candidate traffic: the band self-join carries band_id + n_rows
    minhash longs per row, candidates are deduped before the verify
    re-attach, and no stage is ever all-pairs — growth is bounded by
    true band collisions.

    NULL-doc note: a NULL document's hs is [NULL] in both callers;
    explode keeps the NULL element and min() skips it, so such a doc
    carries all-NULL minhashes (as before) and can never band-collide —
    its hset content (collect_list drops the NULL where array_distinct
    kept it) is therefore unreachable by the verify."""
    sig = (
        grams.select("doc_id", F.explode(F.array_distinct("hs")).alias("__h"))
        .groupBy("doc_id")
        .agg(
            F.collect_list("__h").alias("hset"),
            *[
                F.min(F.expr(f"(__h * {a}L + {b}L) % {p}")).alias(f"mh{s}")
                for s, (a, b) in enumerate(seeds)
            ],
        )
        .cache()
    )
    sig.count()  # eager: both band-join sides + the verify read it
    hcols = [f"h{r}" for r in range(n_rows)]
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_id"),
                        *[
                            F.col(f"mh{n_rows * i + r}").alias(f"h{r}")
                            for r in range(n_rows)
                        ],
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_id", *[f"band.{h}" for h in hcols])
    a, b = bands.alias("a"), bands.alias("b")
    band_eq = F.col("a.band_id") == F.col("b.band_id")
    for h in hcols:
        band_eq = band_eq & (F.col(f"a.{h}") == F.col(f"b.{h}"))
    cand = (
        a.join(b, band_eq & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
        .dropDuplicates(["id1", "id2"])  # same pair may collide in >1 band
    )
    hsets = sig.select("doc_id", "hset")
    return cand.join(
        hsets.select(F.col("doc_id").alias("id1"), F.col("hset").alias("h1")), "id1"
    ).join(
        hsets.select(F.col("doc_id").alias("id2"), F.col("hset").alias("h2")), "id2"
    )


def _jaccard_verify(cand: DataFrame, tau: float) -> DataFrame:
    """Exact Jaccard verify over (id1, id2, h1, h2) candidates: keep
    pairs at/above τ with their true Jaccard as `j`. h1/h2 are DISTINCT
    sets by construction (_lsh_band_pairs), so |A∪B| = |A|+|B|-|A∩B| —
    the union is pure arithmetic, not a second interpreted array pass
    over both sets per pair."""
    inter = F.size(F.array_intersect("h1", "h2")).cast("double")
    union = (F.size("h1") + F.size("h2")).cast("double") - inter
    j = inter / union
    return cand.where(j >= tau).select("id1", "id2", j.alias("j"))


def minhash_candidates_portable(documents: DataFrame) -> DataFrame:
    """Portable-family MinHash-LSH candidate pairs with their shingle
    sets attached — (id1, id2, h1, h2) — the shared generator behind
    llm_dedup_minhash (Jaccard verify), llm_containment_pairs
    (containment verify) and llm_dedup_clusters' pair feed. The cached
    signature pass is plan-identical across callers, so a combined run
    (bench, the driver sweep) computes the shingle signatures once."""
    n_par = documents.sparkSession.sparkContext.defaultParallelism
    # Word 3-shingles, Rabin-Karp style: hash each WORD once, then a
    # shingle hash is an affine combine of three word hashes — pure
    # int64 arithmetic, all in-array (no explode, no shuffle until the
    # band join), same shape as ngram_jaccard_pairs below. The earlier
    # form materialized every shingle as a STRING (slice + concat_ws
    # inside an interpreted lambda — ~n_words short-lived strings per
    # doc); combining word hashes instead cuts the signature pass to
    # integer ops only. Two zero pads keep <3-word docs defined on
    # both engines (ascii('') = 0 keeps the word hash itself total).
    wh = F.expr(
        f"concat(transform(split(lower(text), ' '), w ->"
        f" {_word_hash_spark('w')}), array(0L, 0L))"
    )
    hs = F.expr(
        f"transform(sequence(1, greatest(size(__w) - 4, 1)), i -> "
        f" (element_at(__w, i) * 40503L + element_at(__w, i + 1) * 65599L"
        f"  + element_at(__w, i + 2)) % {_MH_P})"
    )
    grams = (
        documents.repartition(n_par, "doc_id")
        .select("doc_id", wh.alias("__w"))
        .select("doc_id", hs.alias("hs"))
    )
    return _lsh_band_pairs(grams, _MH_SEEDS, _MH_P, _MH_BANDS, _MH_ROWS)


def minhash_verify(cand: DataFrame) -> DataFrame:
    """Exact Jaccard verify over (id1, id2, h1, h2) candidates:
    keep pairs at/above τ with their true Jaccard."""
    return _jaccard_verify(cand, _MH_TAU)


def minhash_pairs_portable(documents: DataFrame) -> DataFrame:
    """Portable-family MinHash-LSH near-dup pairs (id1, id2, j ≥ tau):
    exact Jaccard verify over the shared candidate generator."""
    return minhash_verify(minhash_candidates_portable(documents))


_CT_TAU = 0.7  # containment threshold


@query(
    "llm_containment_pairs",
    oracle=_mh_pairs_cte()
    + f"""
    SELECT id1, id2, round(containment + 1e-9, 4) AS containment
    FROM scored WHERE containment >= {_CT_TAU}
    """,
)
def llm_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment-similarity near-dup pairs: |A∩B| / min(|A|, |B|)
    over the same word-3-shingle sets as llm_dedup_minhash. Containment
    is the asymmetric complement of Jaccard — a short document pasted
    into a longer one scores containment ≈ 1 but Jaccard ≈ |A|/|B|, so
    a Jaccard-only dedup pass keeps the redundant pair. Candidates come
    from the SAME minhash band join (the cached signature pass is
    plan-identical, so Spark reuses the cache built by
    llm_dedup_minhash — zero extra signature cost in a combined run);
    only the verify expression differs. Honest limitation, documented:
    Jaccard-LSH recall degrades for extreme-ratio containment pairs
    (tiny fragment in a huge doc rarely band-collides); a dedicated
    containment index would band per size-prefix instead."""
    documents = catalog.load(spark, sf_dir, "documents")
    pairs = minhash_candidates_portable(documents)
    inter = F.size(F.array_intersect("h1", "h2")).cast("double")
    c = inter / F.least(F.size("h1"), F.size("h2")).cast("double")
    return pairs.where(c >= _CT_TAU).select(
        "id1", "id2", fround(c).alias("containment")
    )


@query(
    "llm_dedup_simhash",
    # token hash generated from the same _word_hash_duck definition the
    # minhash CTE uses — one polynomial, no drift
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS token
        FROM documents
    ),
    h AS (
        SELECT doc_id,
               CAST({_word_hash_duck("token")} AS BIGINT) AS th
        FROM tok
    ),
    bits AS (
        SELECT doc_id, b.b AS bit,
               CASE WHEN (th >> b.b) & 1 = 1 THEN 1 ELSE -1 END AS v
        FROM h, (SELECT unnest(range(16)) AS b) AS b
    )
    SELECT doc_id,
           CAST(sum(CASE WHEN v_sum > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT)
             AS simhash16
    FROM (SELECT doc_id, bit, sum(v) AS v_sum FROM bits GROUP BY 1, 2) g
    GROUP BY doc_id
    """,
)
def llm_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document (near-dup fingerprint; Hamming
    distance ≤ r on the fingerprint ≈ high cosine of term sets).
    Token hash is a portable arithmetic hash (length/first/last
    codepoint polynomial mod 2^20) so the DuckDB oracle reproduces it
    exactly; swap in xxhash64 for production quality — structure and
    scale shape (explode → two hash aggregates, all JVM) is identical.
    At 100 TB: 2 narrow shuffles keyed by doc_id, fully parallel."""
    documents = catalog.load(spark, sf_dir, "documents")
    tok = documents.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.lower(F.col("text")), " "))
        ).alias("token"),
    )
    # the shared _word_hash_spark definition (same polynomial as the
    # minhash family, long literals prevent int wrap on unicode)
    h = tok.select(
        "doc_id", F.expr(_word_hash_spark("token")).alias("th")
    )
    bits = h.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(15))).alias("bit"),
        "th",
    ).select(
        "doc_id",
        "bit",
        # shiftright's Python wrapper only takes a literal shift count;
        # the column-shift form goes through the SQL expression
        F.when(F.expr("shiftright(th, bit) & 1") == 1, 1)
        .otherwise(-1)
        .alias("v"),
    )
    v_sum = bits.groupBy("doc_id", "bit").agg(F.sum("v").alias("v_sum"))
    return (
        v_sum.groupBy("doc_id")
        .agg(
            F.sum(
                F.when(
                    F.col("v_sum") > 0,
                    F.expr("shiftleft(CAST(1 AS BIGINT), bit)"),
                ).otherwise(F.lit(0).cast("long"))
            ).alias("simhash16")
        )
    )


# Portable MinHash family for the oracled n-gram dedup below: affine
# permutations (A*h + B) mod P over char-4-gram rolling hashes. P is
# prime (2^20 - 3) so each (A, B) is a true permutation of the hash
# domain; every constant is plain integer arithmetic DuckDB reproduces
# bit-for-bit. 3 bands × 6 rows: a pair with jaccard j collides in a
# band with prob j^6. The row count is sized to
# the corpus's BASE similarity, not just the target τ: on a
# small-vocabulary corpus (documents is ~30 distinct words, so char
# 4-grams repeat heavily across unrelated docs) the all-pairs mean
# jaccard is ≈0.28, and the old 2×3 geometry admitted 0.28³ ≈ 2% of ALL
# pairs — 278k candidates from 5k docs at sf0.1, a 1000× false-positive
# load on the verify join that only gets worse quadratically with
# corpus size. At 6 rows the base rate is 0.28^6 ≈ 5e-4 (≈19k
# candidates, 15× less) while true near-dups (j≳0.9) still collide
# with prob 1-(1-j^6)^3 ≈ 0.97+ (the planted-recall test's one-char
# edits sit at j≈0.96 → ≈0.99).
_NG_P = 1048573
# the first 16 (A, B) pairs ARE the minhash family's — stated as a
# derivation, not re-typed, so a future seed edit cannot drift the two
# tables apart; the n-gram family just needs 18 (3 bands × 6 rows)
_NG_SEEDS = [*_MH_SEEDS, (115249, 65599), (122887, 40503)]
_NG_BANDS = 3
_NG_ROWS = 6  # minhashes per band
# Verify threshold on band-collided candidates. NOTE the geometry, not
# τ, sets effective recall: detection midpoint sits at j≈0.83 (see the
# CONTRACT paragraph in ngram_jaccard_pairs) — τ only trims verified
# candidates below it.
_NG_TAU = 0.5


def _ng_oracle() -> str:
    """DuckDB mirror of ngram_jaccard_pairs, generated from the same
    seed table (and the same `_lsh_pairs_sql` chain as the minhash
    oracle) so the two engines can never drift."""
    grams_with = f"""WITH grams AS (
        SELECT doc_id,
               {char_gram_sql("text")} AS hs
        FROM documents
    )"""
    return (
        _lsh_pairs_sql(grams_with, _NG_SEEDS, _NG_P, _NG_BANDS, _NG_ROWS)
        + f"""
    SELECT id1, id2, round(j + 1e-9, 4) AS jaccard
    FROM scored WHERE j >= {_NG_TAU}
    """
    )


_NG_JACCARD_ORACLE = _ng_oracle()


def ngram_jaccard_pairs(documents: DataFrame) -> DataFrame:
    """Character-4-gram Jaccard with REAL similarity blocking: MinHash
    bands (3 bands × 6 rows from a portable affine hash family) replace
    any id-window convenience key, so near-duplicates are found no
    matter how far apart their doc_ids are. It shares the word-shingle
    family's generator (_lsh_band_pairs): linear signature pass →
    narrow band-bucket self-join (band_id + 6 minhash longs per row —
    this family's R = _NG_ROWS, not the 4 of the minhash family) →
    exact Jaccard verify only on surviving pairs, with the gram sets
    re-attached after the join; pairs below τ=0.5 are dropped (a dedup
    pair list, not an all-similarities dump).

    CONTRACT: the reported set is BAND-COLLIDED pairs with exact
    jaccard ≥ τ, not all pairs ≥ τ. The 3×6 geometry's per-band
    collision prob is j^6, putting the detection S-curve midpoint near
    j≈0.83 — pairs with true jaccard in [0.5, ~0.8] are mostly never
    surfaced. That is the intended dedup operating point (true
    near-dups at j≳0.9 collide with prob ≥0.97); the oracle shares the
    identical geometry, so both engines miss the same mid-band pairs
    and parity holds.

    Takes any DataFrame with (doc_id long, text string); the query
    below applies it to the documents table, the planted-distant-id
    recall test applies it to synthetic fixtures."""
    # Signature pass is a pure in-array map — the SHARED char-4-gram
    # rolling hash (functions/textgrams.py, also the base of
    # llm_fingerprint_rolling): no explode, no per-doc window sort, no
    # shuffle at all until the narrow band join. At 100 TB the
    # alternative (one row per CHARACTER through a window sort)
    # shuffles ~n_chars rows; this form shuffles nothing and each
    # minhash is an array_min over the gram array. See textgrams.py
    # for why the codes array (not per-gram substring) is load-bearing.
    # The gram hashing is CPU-heavy per input byte (~len lambda evals
    # per doc), so parallelism must not be tied to the source file
    # layout (one small parquet file = one task doing ALL the hashing).
    # An explicit repartition of the raw (doc_id, text) rows — a narrow
    # 1-byte-per-char shuffle — spreads the map across every core; AQE
    # byte-based coalescing is bypassed on purpose (it would fold this
    # tiny-bytes/heavy-CPU stage back into one partition).
    n_par = documents.sparkSession.sparkContext.defaultParallelism
    grams = with_char_gram_hashes(
        documents.repartition(n_par, "doc_id").select("doc_id", "text")
    )
    pairs = _lsh_band_pairs(grams, _NG_SEEDS, _NG_P, _NG_BANDS, _NG_ROWS)
    return _jaccard_verify(pairs, _NG_TAU).select(
        "id1", "id2", fround(F.col("j")).alias("jaccard")
    )


@query("llm_dedup_ngram_jaccard", oracle=_NG_JACCARD_ORACLE)
def llm_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-banded character-4-gram Jaccard dedup over the documents
    table — see ngram_jaccard_pairs for the blocking design. Past the
    signature scan everything is narrow candidate traffic; AQE
    coalesces the small band-join shuffles at runtime (a scoped
    shuffle-partition override here would not survive the lazy return
    anyway — the plan executes after the context exits)."""
    return ngram_jaccard_pairs(catalog.load(spark, sf_dir, "documents"))


# ---------------------------------------------------- similarity search

@query(
    "llm_sim_topk",
    oracle=f"""
    WITH probe AS (
        SELECT vec_id AS pid, CAST(embedding AS DOUBLE[]) AS p
        FROM embeddings
        WHERE vec_id = (SELECT min(vec_id) FROM embeddings)
    )
    SELECT vec_id, label,
           -- cosine_sql: the shared guard ladder (zero norm -> 0.0,
           -- NULL element / dim mismatch -> NULL) mirroring the Spark
           -- side's functions/similarity.cosine branch-for-branch
           round({cosine_sql("CAST(embedding AS DOUBLE[])", "probe.p")}
                 + 1e-9, 4) AS cos_sim
    FROM embeddings, probe
    WHERE vec_id <> probe.pid
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """,
)
def llm_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k against a probe vector: one broadcast
    of the probe, one codegen'd map over the table, TakeOrdered top-k —
    the exact-baseline ANN. Only k rows reach the driver at any scale.
    (The bucketed/IVF variant is llm_sim_ivf_topk.) The probe is
    min(vec_id), not a hard-coded 0: a renumbered fixture regen would
    have silently degraded the old `vec_id = 0` probe to a vacuous
    0-row green on both engines (the crash-prone sibling was fixed the
    same way — see llm_sim_ivf_topk). asc_nulls_last on the probe pick
    mirrors the oracle's min(vec_id), which skips NULL ids — a NULL
    vec_id row must never become the probe (embeddings-drift axis:
    Spark's default ASC is NULLS FIRST, and a NULL-id NULL-embedding
    probe silently degrades the whole query to zero rows)."""
    emb = catalog.load(spark, sf_dir, "embeddings")
    probe = (
        emb.orderBy(F.col("vec_id").asc_nulls_last())
        .limit(1)
        .select(F.col("vec_id").alias("pid"), F.col("embedding").alias("p"))
    )
    joined = (
        emb.crossJoin(F.broadcast(probe))
        .where(F.col("vec_id") != F.col("pid"))
    )
    scored = joined.select(
        "vec_id",
        "label",
        fround(cosine(F.col("embedding"), F.col("p"))).alias("cos_sim"),
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col("vec_id")).limit(10)


# Hyperplane LSH geometry: the bucket-bit count ADAPTS to corpus size
# so the mean bucket stays ~_HP_TARGET rows and within-bucket candidate
# pairs stay LINEAR in n (a fixed 64-bucket space makes them ~n²/64 —
# the scale-killer class).
# Plane j is a ±1 sign pattern over a 4-dim block: block = j % 16 (64
# declared dims / 4), pattern = j // 16 out of the three mutually
# orthogonal sign characters (+,+,-,-) / (+,-,+,-) / (+,-,-,+) — up to
# 48 exactly-orthogonal planes, each a 4-term double sum both engines
# evaluate in the same left-to-right order (bit-identical bucket ids).
# Plane order keeps planes 0..5 identical to the historical fixed-64
# geometry, so today's fixture sizes (≤4096 vectors → 6 bits) produce
# the exact buckets the driver already hash-verified.
_HP_TARGET = 64
_HP_MIN_BITS = 6
_HP_MAX_BITS = 48
_HP_BLOCKS = 16
_HP_PATTERNS = ((1, 1, -1, -1), (1, -1, 1, -1), (1, -1, -1, 1))


def _hp_n_bits(n_rows: int) -> int:
    """ceil(log2(ceil(n/target))) clamped to [6, 48] — pure integer
    arithmetic (bit_length), mirrored exactly by the SQL CASE ladder in
    ``_hp_npow_sql`` (n_bits = b  ⟺  n ≤ target·2^b < n·2)."""
    m = max(1, -(-n_rows // _HP_TARGET))
    b = (m - 1).bit_length()
    return min(_HP_MAX_BITS, max(_HP_MIN_BITS, b))


def _hp_plane_dims(j: int) -> tuple[tuple[int, int], ...]:
    block, pattern = j % _HP_BLOCKS, _HP_PATTERNS[j // _HP_BLOCKS]
    return tuple((4 * block + i + 1, pattern[i]) for i in range(4))


def _hyperplane_bucket_spark(n_bits: int = _HP_MIN_BITS) -> F.Column:
    """``n_bits`` sign bits → 2^n_bits-way LSH bucket. Callers derive
    ``n_bits`` from the corpus row count via ``_hp_n_bits`` (a single
    cheap parquet-stats count — the same scalar-discovery class as the
    paged source's max-id probe)."""
    bucket = F.lit(0)
    for j in range(n_bits):
        s = F.lit(0.0)
        for dim, sign in _hp_plane_dims(j):
            # try_element_at, not element_at: a regenerated fixture with
            # fewer dims would otherwise be a hard INVALID_ARRAY_INDEX
            # under ANSI mode. The NULL term propagates through the sum
            # so the plane's bit reads 0 (`NULL > 0` is false) — exactly
            # what the oracle's SQL does with its out-of-range index
            term = F.try_element_at(F.col("embedding"), F.lit(dim)).cast(
                "double"
            )
            s = (s + term) if sign > 0 else (s - term)
        bucket = bucket + F.when(s > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return bucket


def _hp_npow_sql(tbl: str) -> str:
    """Scalar-subquery CASE ladder giving 2^n_bits from count(*) —
    exact integer thresholds (n ≤ target·2^b → b), matching
    ``_hp_n_bits`` branch for branch."""
    branches = "\n               ".join(
        f"WHEN cnt <= {_HP_TARGET * (1 << b)} THEN {1 << b}"
        for b in range(_HP_MIN_BITS, _HP_MAX_BITS)
    )
    return (
        f"(SELECT CASE {branches}\n"
        f"               ELSE {1 << _HP_MAX_BITS} END\n"
        f"        FROM (SELECT count(*) AS cnt FROM {tbl}))"
    )


def _hyperplane_bucket_sql(tbl: str) -> str:
    """Full 48-plane bucket modulo the adaptive 2^n_bits power. Every
    plane's value 2^j with j ≥ n_bits is divisible by 2^n_bits, so the
    modulo of the full sum equals the Spark side's n_bits-plane sum —
    the SQL stays one static string while mirroring the dynamic
    geometry."""
    terms = []
    for j in range(_HP_MAX_BITS):
        parts = []
        for dim, sign in _hp_plane_dims(j):
            op = "+" if sign > 0 else "-"
            parts.append(f" {op} CAST({tbl}.embedding[{dim}] AS DOUBLE)")
        s = "(" + "".join(parts).lstrip(" +") + ")"
        terms.append(f"CASE WHEN {s} > 0 THEN {1 << j} ELSE 0 END")
    total = " + ".join(terms)
    return f"(({total}) % {_hp_npow_sql(tbl)})"


@query(
    "llm_sim_pairs_threshold",
    oracle=f"""
    WITH sig AS (
        SELECT vec_id, embedding,
               {_hyperplane_bucket_sql('embeddings')} AS bucket
        FROM embeddings
    )
    SELECT a.vec_id AS id1, b.vec_id AS id2, a.bucket AS bucket,
           round({cosine_sql("CAST(a.embedding AS DOUBLE[])",
                             "CAST(b.embedding AS DOUBLE[])")} + 1e-9, 4)
             AS cos_sim
    FROM sig a
    JOIN sig b
      ON a.bucket = b.bucket
     AND a.vec_id < b.vec_id
    WHERE round({cosine_sql("CAST(a.embedding AS DOUBLE[])",
                            "CAST(b.embedding AS DOUBLE[])")}
                + 1e-9, 4) >= 0.25
    """,
)
def llm_sim_pairs_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All pairs with cosine ≥ τ within REAL similarity blocks: a
    random-hyperplane LSH bucket (sign bits of orthogonal projections)
    replaces any id-window convenience key — high-cosine vectors land
    in the same bucket regardless of their ids. The bucket is the
    shuffle key, and the bit count ADAPTS to corpus size (_hp_n_bits:
    mean bucket ~64 rows) so candidate generation stays linear in n
    instead of ~n²/2^bits; at rest the bucket doubles as a partition
    key so each bucket's pairs verify co-located."""
    from airflow_jira_etl_spark.functions.similarity import (
        cosine_prestats,
        vec_corrupt,
        vec_norm,
    )

    emb0 = catalog.load(spark, sf_dir, "embeddings")
    n_bits = _hp_n_bits(emb0.count())  # parquet-stats count: O(footer)
    # The signature relation feeds BOTH sides of the self-join: cache
    # it and fill the cache eagerly, or the two sides race to
    # materialize it and the scan + bucket projection runs twice
    # concurrently (same pattern as the minhash band join — PLANS.md
    # documents the 2× race there). The per-ROW cosine invariants
    # (norm, corrupt flag) ride the same cached pass: hoisting
    # them out of the per-PAIR expression cuts the interpreted
    # higher-order-function passes per candidate pair from ~7 to 2 —
    # see functions/similarity.vec_norm.
    emb = (
        emb0.withColumn("bucket", _hyperplane_bucket_spark(n_bits))
        .withColumn("_nrm", vec_norm(F.col("embedding")))
        .withColumn("_bad", vec_corrupt(F.col("embedding")))
        .cache()
    )
    emb.count()
    a, b = emb.alias("a"), emb.alias("b")
    cos = cosine_prestats(
        F.col("a.embedding"),
        F.col("b.embedding"),
        F.col("a._nrm"),
        F.col("b._nrm"),
        F.col("a._bad"),
        F.col("b._bad"),
    )
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        # membership tests the ROUNDED value on both engines: the raw
        # cosine comes from two different float pipelines, and a pair
        # within an ulp of the threshold would otherwise be admitted by
        # one engine only — the fround convention can only protect a
        # SELECTed value, not WHERE membership, unless WHERE uses it too
        .where(fround(cos) >= 0.25)
        .select(
            F.col("a.vec_id").alias("id1"),
            F.col("b.vec_id").alias("id2"),
            F.col("a.bucket").alias("bucket"),
            fround(cos).alias("cos_sim"),
        )
    )


# --------------------------------------------------------- text analysis

@query(
    "llm_text_tokens",
    oracle="""
    SELECT token, count(*) AS freq,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
    FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
          FROM documents)
    GROUP BY token
    """,
)
def llm_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize → explode → term & document frequency (the unigram LM
    statistics pass). Explode + two-level hash agg; at scale the
    map-side partial agg collapses the token stream before the shuffle."""
    documents = catalog.load(spark, sf_dir, "documents")
    tok = documents.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("token")
    )
    return tok.groupBy("token").agg(
        F.count("*").alias("freq"),
        F.countDistinct("doc_id").alias("doc_freq"),
    )


@query(
    "llm_heavy_hitters",
    oracle="""
    SELECT gram, count(*) AS freq,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
    FROM (
        SELECT doc_id,
               unnest([ws[i] || ' ' || ws[i+1] FOR i IN range(1, len(ws))])
                 AS gram
        FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws
              FROM documents)
    )
    GROUP BY gram
    ORDER BY freq DESC, gram ASC
    LIMIT 100
    """,
)
def llm_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide heavy hitters: the top-100 word BIGRAMS by term
    frequency (document frequency rides along) — the vocabulary-head
    statistic tokenizer-training and boilerplate-detection passes
    need. Bigrams rather than unigrams because the fixture's unigram
    vocabulary (31) is smaller than any useful k, and because pair
    statistics are the actual BPE-merge input. Exact at test SF, so
    the oracle is a plain count + top-k; the k boundary is
    deterministic because ties break on the gram itself.

    Scale shape: bigrams are built IN-ARRAY over the token array
    (llm_decontaminate's gram pattern — no self-join, no window lag),
    exploded once, and collapsed by map-side partial aggregation
    before the ONE shuffle on gram; the global top-k is then
    TakeOrderedAndProject — a k-row heap per partition merged on the
    driver, never a global sort (identical to sort_limit_topk; check
    the plan). The count-distinct doc frequency is the expand phase
    of the same aggregate. The aggregate's state is linear in DISTINCT
    grams, so executor memory must grow with the vocabulary; the query
    stays exact so that the oracle can check every row."""
    documents = catalog.load(spark, sf_dir, "documents")
    return heavy_hitters(documents)


def heavy_hitters(documents: DataFrame) -> DataFrame:
    """Operator body over any (doc_id, text) frame — see
    llm_heavy_hitters. Split out so a test can run it on replicated
    corpora and pin how its counts scale."""
    grams = (
        documents.select(
            "doc_id", F.split(F.lower(F.col("text")), " ").alias("ws")
        )
        .where(F.size("ws") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 1), i -> "
                    "concat_ws(' ', slice(ws, i, 2)))"
                )
            ).alias("gram"),
        )
    )
    return (
        grams.groupBy("gram")
        .agg(
            F.count("*").alias("freq"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.col("freq").desc(), F.col("gram").asc())
        .limit(100)
    )


@query(
    "llm_text_stats",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           round(avg(n_chars) + 1e-9, 4) AS avg_chars,
           count(*) FILTER (WHERE n_chars < 200) AS n_short,
           count(*) FILTER (WHERE n_chars >= 200 AND n_chars < 400) AS n_medium,
           count(*) FILTER (WHERE n_chars >= 400) AS n_long,
           round(avg(len(string_split(text, ' '))) + 1e-9, 4) AS avg_tokens
    FROM documents
    GROUP BY lang
    """,
)
def llm_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus statistics + length histogram buckets —
    the quality-scoring aggregate of a data-curation pipeline."""
    documents = catalog.load(spark, sf_dir, "documents")
    return documents.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        fround(F.avg("n_chars")).alias("avg_chars"),
        F.count(F.when(F.col("n_chars") < 200, 1)).alias("n_short"),
        F.count(
            F.when((F.col("n_chars") >= 200) & (F.col("n_chars") < 400), 1)
        ).alias("n_medium"),
        F.count(F.when(F.col("n_chars") >= 400, 1)).alias("n_long"),
        fround(F.avg(F.size(F.split(F.col("text"), " ")))).alias("avg_tokens"),
    )


@query(
    "llm_text_quality",
    oracle="""
    SELECT doc_id,
           round(CAST(length(text) AS DOUBLE)
                 / len(string_split(text, ' ')) + 1e-9, 4) AS chars_per_token,
           round(CAST(len(list_filter(string_split(lower(text), ' '),
                                      t -> t IN ('the', 'a', 'of', 'and')))
                      AS DOUBLE) / len(string_split(text, ' ')) + 1e-9, 4)
             AS stopword_ratio,
           (length(text) >= 100 AND length(text) < 1000) AS length_ok
    FROM documents
    """,
)
def llm_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features: chars-per-token, stopword ratio,
    length gate — the classic C4/Gopher-style filter signals, all as
    codegen'd expressions (no UDF)."""
    documents = catalog.load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    low_toks = F.split(F.lower(F.col("text")), " ")
    stop = F.filter(
        low_toks, lambda t: t.isin("the", "a", "of", "and")
    )
    return documents.select(
        "doc_id",
        fround(F.length("text").cast("double") / F.size(toks)).alias(
            "chars_per_token"
        ),
        fround(F.size(stop).cast("double") / F.size(toks)).alias("stopword_ratio"),
        ((F.length("text") >= 100) & (F.length("text") < 1000)).alias("length_ok"),
    )


# ------------------------------------------------- UDF / UDAF / UDTF

@query(
    "udf_python_scalar",
    oracle="""
    SELECT doc_id,
           round(CAST(length(text) AS DOUBLE) / len(string_split(text, ' '))
                 + 1e-9, 4) AS chars_per_token
    FROM documents
    """,
)
def udf_python_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF surface — deliberately the SLOW path
    (per-row serde, no codegen); kept for API parity and contrasted
    with the vectorized twin below. Never use this shape in a 100 TB
    hot path."""
    documents = catalog.load(spark, sf_dir, "documents")

    @F.udf(T.DoubleType())
    def chars_per_token(text: str) -> float | None:
        if text is None:  # SQL NULL in, SQL NULL out — len(None) raises
            return None
        return round(len(text) / len(text.split(" ")) + 1e-9, 4)

    return documents.select(
        "doc_id", chars_per_token(F.col("text")).alias("chars_per_token")
    )


@query(
    "udf_pandas_vectorized",
    oracle="""
    SELECT doc_id,
           round(CAST(length(text) AS DOUBLE) / len(string_split(text, ' '))
                 + 1e-9, 4) AS chars_per_token
    FROM documents
    """,
)
def udf_pandas_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same function as an Arrow-batched pandas UDF — the correct
    Python escape hatch at scale (~10-100× the row-at-a-time UDF)."""
    documents = catalog.load(spark, sf_dir, "documents")

    @F.pandas_udf(T.DoubleType())
    def chars_per_token(text: pd.Series) -> pd.Series:
        return (text.str.len() / (text.str.count(" ") + 1) + 1e-9).round(4)

    return documents.select(
        "doc_id", chars_per_token(F.col("text")).alias("chars_per_token")
    )


@query(
    "udaf_grouped_agg",
    # the NaN wrap pins the PANDAS-BRIDGE convention (measured): a
    # NaN aggregate value crossing the Arrow transfer back from a
    # pandas UDAF arrives in Spark as NULL (pandas uses
    # NaN as its missing-value sentinel), while DuckDB's algebraic
    # form keeps NaN — one NaN `value` in a drifted fixture (NaN > 0
    # is TRUE on both engines, so the filter admits it) would
    # hash-mismatch NULL-vs-NaN. Infinity crosses the bridge intact
    # on both engines and stays unwrapped.
    oracle="""
    SELECT event_type,
           CASE WHEN isnan(g) THEN NULL ELSE g END AS geo_mean_value
    FROM (
        SELECT event_type,
               round(exp(avg(ln(value))) + 1e-9, 4) AS g
        FROM events
        WHERE value > 0
        GROUP BY event_type
    )
    """,
)
def udaf_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDAF (geometric mean of value per
    event_type) — the custom-aggregate surface. The arithmetic runs
    vectorized in numpy per group; partial aggregation is NOT available
    for pandas UDAFs, so at scale prefer the algebraic rewrite
    exp(avg(ln(x))) (shown in the oracle) — both are provided.
    Non-positive values are excluded (geometric mean's domain; an
    unguarded ln(0) is an error in strict engines). A NaN aggregate
    maps to NULL — the pandas/Arrow bridge convention, mirrored
    explicitly in the oracle."""
    import numpy as np

    events = catalog.load(spark, sf_dir, "events")

    @F.pandas_udf(T.DoubleType())
    def geo_mean(v: pd.Series) -> float:
        return float(round(np.exp(np.log(v.to_numpy()).mean()) + 1e-9, 4))

    return (
        events.where(F.col("value") > 0)
        .groupBy("event_type")
        .agg(geo_mean("value").alias("geo_mean_value"))
    )


@query(
    "udtf_explode_kv",
    # json_valid gate (JSON-drift sweep): DuckDB's json_keys /
    # json_extract_string HARD-ERROR on malformed JSON while the UDTF
    # yields no rows — one corrupt props string in a drifted fixture
    # would crash the oracle. The type check pins the non-object
    # convention too: a valid JSON array/scalar has no key-value rows
    # on either engine.
    oracle="""
    SELECT event_id, k AS key,
           json_extract_string(props, '$."' || k || '"') AS val
    FROM (SELECT event_id, props, unnest(json_keys(props)) AS k
          FROM events
          WHERE json_valid(props) AND json_type(props) = 'OBJECT')
    """,
)
def udtf_explode_kv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDTF surface: one row → many (parse the JSON props object into
    key/value rows). Uses a Python UDTF (Spark 3.5+) under LATERAL —
    the table-function escape hatch; the all-JVM equivalent is
    explode(from_json(map)) and is what a hot path should use."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="key string, val string")
    class ParseKV:
        # bound once at class build, not re-imported per row (eval()
        # runs once per input row; the sys.modules lookup per call is
        # small but pure waste — within host noise at sf0.1)
        import json as _json

        def eval(self, props: str):
            json = self._json

            if props:
                # malformed JSON or a valid non-object (array/scalar)
                # contributes NO rows — a drifted fixture with one
                # corrupt props crashed the whole Python worker here
                # (JSON-drift sweep); the oracle mirrors with
                # json_valid + json_type = 'OBJECT'
                try:
                    obj = json.loads(props)
                except ValueError:
                    return
                if not isinstance(obj, dict):
                    return
                for k, v in obj.items():
                    # JSON-faithful rendering, matching the oracle's
                    # json_extract_string: null -> SQL NULL (not 'None'),
                    # booleans lowercase, numbers/objects as JSON text —
                    # str(v) got all three wrong for non-string values
                    if v is None:
                        yield k, None
                    elif isinstance(v, bool):
                        yield k, "true" if v else "false"
                    elif isinstance(v, str):
                        yield k, v
                    else:
                        yield k, json.dumps(v, separators=(",", ":"))

    spark.udtf.register("parse_kv", ParseKV)
    catalog.load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        """
        SELECT e.event_id, f.key, f.val
        FROM events e, LATERAL parse_kv(e.props) f
        """
    ).select("event_id", "key", F.col("val"))
