"""Training-data-pipeline extras beyond SURVEY §2B's list: language ID,
BPE-ish token counting, rolling-hash fingerprinting, LSH-bucketed ANN,
multimodal decode/frame-sample plumbing.

All classification/fingerprint arithmetic is portable (engine-agnostic
expressions), so even heuristic operators get exact DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airflow_jira_etl_spark import catalog
from airflow_jira_etl_spark.functions.rounding import fround
from airflow_jira_etl_spark.functions.similarity import cosine_sql
from airflow_jira_etl_spark.functions.textgrams import char_gram_sql
from airflow_jira_etl_spark.queries.sampling import _PCT_SQL, _pct_bucket
from airflow_jira_etl_spark.operators.multimodal import (
    attach_media,
    decode_features,
    resize_media,
    sample_frames,
)
from airflow_jira_etl_spark.registry import query


@query(
    "llm_lang_id",
    oracle="""
    WITH feats AS (
        SELECT doc_id, lang,
               CAST(length(regexp_replace(lower(text), '[^aeiou]', '', 'g')) AS DOUBLE)
                 / nullif(length(text), 0) AS vowel_ratio,
               CAST(length(text) AS DOUBLE)
                 / len(string_split(text, ' ')) AS avg_tok_len
        FROM documents
    )
    SELECT doc_id, lang,
           round(vowel_ratio + 1e-9, 4) AS vowel_ratio,
           round(avg_tok_len + 1e-9, 4) AS avg_tok_len,
           CASE WHEN vowel_ratio >= 0.34 THEN 'lat-vowelheavy'
                WHEN avg_tok_len >= 5.5 THEN 'lat-longtoken'
                ELSE 'lat-short' END AS lang_pred
    FROM feats
    """,
)
def llm_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: featurize (vowel ratio, mean token
    length) then threshold-classify — the n-gram-profile shape of a
    real lang-ID pass (featurize → score per language → argmax), all
    whole-stage-codegen expressions. A production profile swaps the
    thresholds for per-language n-gram log-odds; plan shape and scale
    behavior (pure map, no shuffle) are identical."""
    documents = catalog.load(spark, sf_dir, "documents")
    vowels = F.regexp_replace(F.lower(F.col("text")), "[^aeiou]", "")
    # NULLIF guard: an empty doc would otherwise divide by zero —
    # a hard error under ANSI mode, not a quiet NULL. NULL ratio
    # falls through the CASE to 'lat-short' identically on both
    # engines (the oracle carries the same nullif).
    vowel_ratio = F.length(vowels).cast("double") / F.nullif(
        F.length("text"), F.lit(0)
    )
    avg_tok_len = F.length("text").cast("double") / F.size(F.split(F.col("text"), " "))
    return documents.select(
        "doc_id",
        "lang",
        fround(vowel_ratio).alias("vowel_ratio"),
        fround(avg_tok_len).alias("avg_tok_len"),
        F.when(vowel_ratio >= 0.34, "lat-vowelheavy")
        .when(avg_tok_len >= 5.5, "lat-longtoken")
        .otherwise("lat-short")
        .alias("lang_pred"),
    )


@query(
    "llm_token_count_bpe",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER)
             AS regex_tokens,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS bpe_est_tokens
    FROM documents
    """,
)
def llm_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace split, a BPE-ish regex
    pre-tokenizer (letter runs | digit runs | single symbols — the
    GPT-2 pre-tokenizer shape), and the chars/4 estimator used for
    quick corpus budgeting. Pure map, no shuffle."""
    documents = catalog.load(spark, sf_dir, "documents")
    return documents.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("ws_tokens"),
        F.size(
            F.expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")
        ).alias("regex_tokens"),
        F.ceil(F.length("text") / 4.0).alias("bpe_est_tokens"),
    )


@query(
    "llm_fingerprint_rolling",
    # gram array generated from the same char_gram_sql definition the
    # ngram-dedup oracle uses — one polynomial, no drift
    oracle=f"""
    WITH grams AS (
        SELECT doc_id,
               {char_gram_sql("text")} AS hs
        FROM documents
    )
    SELECT doc_id,
           CAST(list_min(hs) AS BIGINT) AS fp_min,
           CAST(list_max(hs) AS BIGINT) AS fp_max,
           CAST(len(list_distinct(hs)) AS INTEGER) AS n_distinct_grams,
           CAST(list_min(hs) % 64 AS BIGINT) AS fp_bucket
    FROM grams
    """,
)
def llm_fingerprint_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint via a polynomial rolling hash over char
    4-grams (winnowing-style: the min-hash of the gram stream is the
    fingerprint; fp_bucket is the dedup shuffle key). The base-31
    polynomial is computed identically in both engines — a portable
    stand-in for xxhash64, which a production build would use. Pure
    map + array ops; no shuffle until the bucket groupBy a dedup
    consumer would add."""
    from airflow_jira_etl_spark.functions.textgrams import (
        with_char_gram_hashes,
    )

    documents = catalog.load(spark, sf_dir, "documents")
    # the SHARED O(len) char-4-gram pass (functions/textgrams.py) —
    # one definition with ngram_jaccard_pairs so the polynomial and
    # pad convention cannot drift between the two oracles
    g = with_char_gram_hashes(documents.select("doc_id", "text"))
    return g.select(
        "doc_id",
        F.array_min("hs").cast("long").alias("fp_min"),
        F.array_max("hs").cast("long").alias("fp_max"),
        # filter NULLs before counting: DuckDB's list_distinct DROPS
        # them while array_distinct keeps one — a NULL-text row (one
        # NULL gram) would count 1 vs the oracle's 0
        F.size(
            F.filter(F.array_distinct("hs"), lambda x: x.isNotNull())
        ).alias("n_distinct_grams"),
        (F.array_min("hs") % 64).cast("long").alias("fp_bucket"),
    )


@query(
    "llm_sim_lsh_topk",
    oracle=f"""
    WITH sig AS (
        -- rows WITHOUT an embedding cannot participate in similarity;
        -- same filter as the Spark side (a NULL LIST would only score
        -- NULL — the filter is about membership parity, not crashes:
        -- corrupt ELEMENTS are what cosine_sql's ladder guards)
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e,
               CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END
               + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END
               + CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END
               + CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END AS bucket
        FROM embeddings
        WHERE embedding IS NOT NULL
    ),
    probe AS (SELECT vec_id AS pid, e AS p, bucket AS pb FROM sig
              WHERE vec_id = (SELECT min(vec_id) FROM sig))
    SELECT vec_id, label, bucket,
           round({cosine_sql("e", "probe.p")} + 1e-9, 4) AS cos_sim
    FROM sig, probe
    WHERE vec_id <> probe.pid AND bucket = probe.pb
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """,
)
def llm_sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k: sign bits of the first 4
    dimensions form a 16-way random-hyperplane bucket (axis-aligned
    hyperplanes — deterministic and portable; production draws random
    Gaussian planes, same plan). Only the probe's bucket is scanned —
    the scan shrinks ~16× and, crucially, the bucket is a partition key
    at scale: the probe routes to ONE partition instead of
    broadcasting to all. The exact-baseline twin is llm_sim_topk.
    The probe is min(vec_id), not a hard-coded 0 — a renumbered
    fixture regen would have degraded the old probe to a vacuous
    0-row green on both engines; asc_nulls_last matches min()'s
    NULL-skipping (embeddings-drift axis, see llm_sim_topk)."""
    from airflow_jira_etl_spark.functions.similarity import cosine

    # rows without an embedding cannot participate in similarity search
    # (mirrored in the oracle's sig CTE)
    emb = catalog.load(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    # try_element_at: a shorter-dim fixture regen must degrade to 0-bits
    # (NULL > 0 is false, matching the oracle's OOB-index NULL), not to
    # an ANSI INVALID_ARRAY_INDEX crash
    bucket = (
        F.when(F.try_element_at(F.col("embedding"), F.lit(1)) > 0, 1).otherwise(0)
        + F.when(F.try_element_at(F.col("embedding"), F.lit(2)) > 0, 2).otherwise(0)
        + F.when(F.try_element_at(F.col("embedding"), F.lit(3)) > 0, 4).otherwise(0)
        + F.when(F.try_element_at(F.col("embedding"), F.lit(4)) > 0, 8).otherwise(0)
    )
    sig = emb.select("vec_id", "label", "embedding", bucket.alias("bucket"))
    probe = (
        sig.orderBy(F.col("vec_id").asc_nulls_last())
        .limit(1)
        .select(
            F.col("vec_id").alias("pid"),
            F.col("embedding").alias("p"),
            F.col("bucket").alias("pb"),
        )
    )
    return (
        sig.join(
            F.broadcast(probe),
            (F.col("bucket") == F.col("pb")) & (F.col("vec_id") != F.col("pid")),
        )
        .select(
            "vec_id",
            "label",
            "bucket",
            fround(cosine(F.col("embedding"), F.col("p"))).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(10)
    )


def _py_cos(a: list, b: list) -> float:
    """Driver-side cosine over two collected vectors (k-bounded use
    only: centroid-directory ranking). Zero-norm convention matches
    functions.similarity.cosine: cs = 0.0."""
    d = sum(x * y for x, y in zip(a, b))
    na = sum(x * x for x in a) ** 0.5
    nb = sum(x * x for x in b) ** 0.5
    return 0.0 if na == 0.0 or nb == 0.0 else d / (na * nb)


@query(
    "llm_sim_ivf_topk",
    # Boolean-contract oracle, all-literal (fixture-independent). The
    # quantizer's cluster geometry is engine-specific, so raw IVF hits
    # can't hash cross-engine — and on this corpus (near-random
    # vectors: measured intra-label cosine ≈ 0.014 vs inter ≈ −0.005)
    # NO recall floor against the global top-10 is honest at 2/8
    # probes. What IVF does guarantee, on any data distribution, is
    # probed-subset exactness, and Spark self-verifies that claim
    # WITHOUT leaving the probed partitions (a comparator that
    # re-assigned the whole corpus per run — a full-table scan per
    # probe at scale):
    #   subset_exact  — the pruned search == brute-force top-k over
    #                   the probed directories' verified rows;
    #   assign_parity — every row read from a probed directory
    #                   re-argmaxes (fresh, vs all k centroids) to its
    #                   stored cluster — catches corrupt assignments;
    #   count_parity  — probed-directory row count == the per-cluster
    #                   counts persisted in the index info at build
    #                   time — catches truncated/duplicated files;
    #   k_exhausted   — |hits| == least(k, |candidates|), robust to a
    #                   skewed split leaving <k vectors in the probed
    #                   clusters (the old least(10, corpus-1) pin was
    #                   a latent fixture hazard).
    # Source-data staleness is caught upstream by the content-stamp key.
    # The probe is min(vec_id) rather than a hard-coded 0: a renumbered
    # fixture regen would have crashed the head() lookup (an err row,
    # unlike the sibling probes' symmetric-empty degradation); both
    # engines derive the same id, so the column still hash-checks.
    oracle="""
    SELECT CAST((SELECT min(vec_id) FROM embeddings
                 WHERE embedding IS NOT NULL
                   AND len(list_filter(embedding,
                           x -> x IS NULL OR isnan(x))) = 0
                ) AS BIGINT) AS probe_id,
           10 AS k,
           TRUE AS k_exhausted,
           TRUE AS subset_exact,
           TRUE AS assign_parity,
           TRUE AS count_parity
    """,
)
def llm_sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k (operators/ivf.py): deterministic coarse
    k-means (2 fixed Lloyd's iterations, no RNG) → index MATERIALIZED
    partitionBy(cluster_id) under .scratch (built once per sf, reused
    across searches) → probe scans only the 2 nearest cluster
    directories via partition pruning. The iterative-algorithm exemplar
    of the engine. Every scan in this query — the search AND its
    self-verification — carries a PartitionFilter on cluster_id
    (asserted in tests/test_scale_patterns.py); the comparator is
    O(|probed|·k), never a corpus scan. tests/test_operators.py
    additionally checks the raw hit list's determinism and true
    scores."""
    from airflow_jira_etl_spark.functions.similarity import cosine
    from airflow_jira_etl_spark.operators.ivf import build_index, search_index

    # un-embeddable rows cannot be indexed: a NULL vector AND a vector
    # carrying a NULL (or NaN) ELEMENT all cosine to NULL
    # against every centroid under the guard ladder, so the assignment
    # argmax has no meaning (the stored cluster would be arbitrary and
    # assign_parity's re-argmax could never reproduce it); mirrored in
    # the oracle's probe-id subquery. A NULL vec_id row is equally
    # un-indexable (NULL-key convention: it cannot be returned as
    # an identifiable neighbor, and the driver-resident anchor int()s
    # the id) — min(vec_id) in the oracle skips NULLs natively.
    emb = catalog.load(spark, sf_dir, "embeddings").where(
        F.col("vec_id").isNotNull()
        & F.col("embedding").isNotNull()
        & ~F.exists("embedding", lambda x: x.isNull() | F.isnan(x))
    )
    # keyed by the embeddings' content stamp (scratch.source_cache):
    # a regenerated fixture invalidates the materialized index, never
    # serves stale assignments
    stamp = catalog.source_stamp(catalog.table_path(sf_dir, "embeddings"))
    indexed, centroids, info = build_index(
        spark, emb, 8, sf_dir, {"embeddings": stamp}
    )
    # the IVF "directory" is coordinator-resident by design — the info
    # carries the quantizer (k centroid vectors, a constant, never
    # data-scaled) and the min-vec_id anchor row, both recorded from
    # the read-back files at build time. Reading them here instead of
    # collect()/head() Spark jobs means a warm-index search launches
    # exactly ONE job: the pruned scan itself. Driver-side centroids
    # also let the comparator's fresh argmax be a pure codegen
    # expression: no shuffle, no second pass.
    cent = [(int(cid), [float(x) for x in v]) for cid, v in info["centroids"]]
    pid = int(info["anchor"]["vec_id"])
    pvec = [float(x) for x in info["anchor"]["embedding"]]
    probe = spark.createDataFrame([(pvec,)], "p array<double>")
    # probe-cluster ranking over the info-resident directory — identical
    # semantics to operators.ivf.rank_probe_clusters (argmax cosine,
    # ties to lowest cluster_id) without its extra Spark job; the
    # product API itself stays covered by ivf_topk and
    # tests/test_scale_patterns.py
    pc = [cid for cid, _ in sorted(cent, key=lambda kc: (-_py_cos(kc[1], pvec), kc[0]))[:2]]
    hits = search_index(
        indexed, centroids, probe, probe_id=pid, top_k=10, n_probe=2,
        probe_clusters=pc,
    )
    # bounded comparator: read ONLY the probed directories (pruned
    # scan), re-argmax each row against the k centroid literals, and
    # verify (a) the stored assignment, (b) the on-disk row count vs
    # the build-time info, (c) top-k exactness over the verified rows.
    # Same double-accumulation fold as assign_clusters used at build
    # time, so a healthy index reproduces its argmax bit-for-bit;
    # first-position ties == assign_clusters' lowest-cluster_id break.
    expected_disk = sum(info["counts"].get(str(c), 0) for c in pc)
    # single nested-array literals (ONE Literal node each, not k·dims
    # of them) keep the analysis/codegen cost of this expression flat —
    # per-column F.lit trees made Catalyst's optimizer passes the
    # dominant cost of the whole query
    sims = F.transform(
        F.lit([c for _, c in cent]), lambda c: cosine(F.col("embedding"), c)
    )
    ids = F.lit([cid for cid, _ in cent])
    fresh_cluster = F.try_element_at(
        ids, F.array_position(sims, F.array_max(sims)).cast("int")
    )
    plit = F.lit(pvec)
    checked = indexed.where(F.col("cluster_id").isin(pc)).select(
        "vec_id",
        "embedding",
        F.col("cluster_id").cast("int").alias("stored_cluster"),
        fresh_cluster.alias("fresh_cluster"),
    )
    # sums are coalesced to 0: an aggregate over a degenerate empty
    # frame yields NULL sums, and a NULL comparison below would turn a
    # contract boolean NULL — a latent hash red on a pathological
    # fixture rather than an honest TRUE/FALSE
    stats = checked.agg(
        F.count("*").alias("n_disk"),
        F.coalesce(
            F.sum((F.col("vec_id") != pid).cast("long")), F.lit(0)
        ).alias("n_sub"),
        F.coalesce(
            F.sum(
                (
                    ~F.col("fresh_cluster").eqNullSafe(F.col("stored_cluster"))
                ).cast("long")
            ),
            F.lit(0),
        ).alias("n_assign_bad"),
    )
    exact_subset = (
        checked.where(
            (F.col("vec_id") != pid)
            & F.col("fresh_cluster").eqNullSafe(F.col("stored_cluster"))
        )
        .select("vec_id", fround(cosine(F.col("embedding"), plit)).alias("ex_cs"))
        .orderBy(F.col("ex_cs").desc(), F.col("vec_id"))
        .limit(10)
    )
    cmp = hits.select(
        "vec_id", F.col("cos_sim").alias("ivf_cs")
    ).join(exact_subset, "vec_id", "full")
    return (
        cmp.agg(
            F.coalesce(
                F.sum(F.col("ivf_cs").isNotNull().cast("long")), F.lit(0)
            ).alias("n_results"),
            F.coalesce(
                F.sum(
                    (
                        F.col("ivf_cs").isNull()
                        | F.col("ex_cs").isNull()
                        | (F.col("ivf_cs") != F.col("ex_cs"))
                    ).cast("long")
                ),
                F.lit(0),
            ).alias("n_bad"),
        )
        .crossJoin(stats)
        .select(
            F.lit(pid).cast("long").alias("probe_id"),
            F.lit(10).alias("k"),
            (F.col("n_results") == F.least(F.lit(10), F.col("n_sub"))).alias(
                "k_exhausted"
            ),
            (F.col("n_bad") == 0).alias("subset_exact"),
            (F.col("n_assign_bad") == 0).alias("assign_parity"),
            (F.col("n_disk") == F.lit(expected_disk)).alias("count_parity"),
        )
    )


def _clusters_oracle() -> str:
    from airflow_jira_etl_spark.queries.llm_ops import _MH_TAU, _mh_pairs_cte

    # recursive min-label propagation over the SAME scored pairs the
    # portable minhash oracle emits — the components operator's
    # semantics pinned end-to-end by a second engine
    return (
        _mh_pairs_cte().replace("WITH toks", "WITH RECURSIVE toks")
        + f""",
    p AS (SELECT id1, id2 FROM scored WHERE j >= {_MH_TAU}),
    edges AS (
        SELECT id1 AS src, id2 AS dst FROM p
        UNION
        SELECT id2, id1 FROM p
    ),
    lbl(id, comp) AS (
        -- NULL ids drop (identity-less rows cannot be labeled); the
        -- engine side filters identically in dedup_clusters
        SELECT doc_id, doc_id FROM documents WHERE doc_id IS NOT NULL
        UNION
        SELECT e.src, l.comp
        FROM edges e
        JOIN lbl l ON l.id = e.dst
        WHERE l.comp < e.src
    )
    SELECT id, min(comp) AS component,
           CAST(id = min(comp) AS BOOLEAN) AS is_canonical
    FROM lbl
    GROUP BY id
    """
    )


@query("llm_dedup_clusters", oracle=_clusters_oracle())
def llm_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup decision: MinHash-LSH pairs → connected
    components (operators/components.py, iterative label propagation)
    → every document labeled (component, is_canonical). The
    deliverable of a corpus-dedup pass: keep rows where is_canonical.
    Pair generation uses the portable affine family
    (llm_ops.minhash_pairs_portable), so DuckDB independently recomputes
    pairs AND transitive closure (recursive CTE) — the whole pipeline
    is hash-checked; the xxhash64 production family keeps its
    planted-graph topology test in tests/test_operators.py."""
    from airflow_jira_etl_spark.operators.components import dedup_clusters
    from airflow_jira_etl_spark.queries.llm_ops import minhash_pairs_portable

    documents = catalog.load(spark, sf_dir, "documents")
    pairs = minhash_pairs_portable(documents)
    return dedup_clusters(pairs, documents, "doc_id")


# The fake media kernels compute statistics over the UTF-8 BYTES of
# the payload (the payload IS bytes — that's the point of the binary
# column), so the oracles must too: length()/ascii() count CODEPOINTS
# and silently diverge the moment the corpus grows a multi-byte
# character (caught by tests/test_docs_drift_sweep.py). DuckDB 1.0 has
# no byte indexing on BLOB, so bytes are read through hex():
# hex(encode(text)) is 2 chars per byte, and byte i parses from the
# pair at [2i+1, 2i+2] via strpos on the uppercase hex alphabet.
_HEXD = "'0123456789ABCDEF'"


def _hexbyte(i: str) -> str:
    """SQL expression for byte ``i`` (0-based) of hx (hex string col)."""
    return (
        f"((strpos({_HEXD}, hx[2*({i})+1 : 2*({i})+1]) - 1) * 16"
        f" + (strpos({_HEXD}, hx[2*({i})+2 : 2*({i})+2]) - 1))"
    )


@query(
    "mm_decode_features",
    # Byte-exact mirror of the fake decode kernel for ANY text —
    # multi-byte UTF-8 included. A production codec kernel would drop
    # back to rows-only.
    oracle=f"""
    WITH h AS (
        SELECT doc_id,
               octet_length(encode(coalesce(text, ''))) AS nb,
               hex(encode(text)) AS hx
        FROM documents
    ),
    b AS (
        SELECT doc_id,
               CAST(nb AS BIGINT) AS n_bytes,
               CAST(CASE WHEN nb = 0 THEN 0 ELSE
                 list_sum([{_hexbyte('i')} FOR i IN range(nb)])
               END AS BIGINT) AS byte_sum,
               CASE WHEN nb > 0 THEN {_hexbyte('0')} ELSE -1 END AS fb
        FROM h
    )
    SELECT doc_id,
           'image/fake' AS media_type,
           n_bytes,
           byte_sum,
           CAST(fb AS INTEGER) AS first_byte,
           CAST(n_bytes % 640 AS INTEGER) AS fake_width,
           CAST(byte_sum % 480 AS INTEGER) AS fake_height
    FROM b
    """,
)
def mm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode plumbing: documents → binary payload column +
    typed metadata → Arrow-batched mapInPandas feature extraction
    (operators/multimodal.py; decode kernel is a deterministic fake —
    codec libs are absent — but schema/batching/partitioning are real)."""
    documents = catalog.load(spark, sf_dir, "documents")
    return decode_features(attach_media(documents))


@query(
    "mm_sample_frames",
    # Frame slicing is byte arithmetic over the UTF-8 payload: step =
    # max(n_bytes//4, 1), frame i covers bytes [i*step, i*step+step).
    # The frame payload is emitted as UPPERCASE HEX on both engines —
    # byte-exact, and hashable by every canonicalizer (the driver's
    # pandas factorize crashes on raw bytearray) — and slicing
    # hex is correct even when a slice lands mid-codepoint (a real
    # media payload has no codepoints; byte boundaries are the
    # contract).
    oracle="""
    WITH m AS (
        SELECT doc_id,
               octet_length(encode(coalesce(text, ''))) AS n,
               greatest(octet_length(encode(coalesce(text, ''))) // 4, 1) AS step,
               hex(encode(text)) AS hx
        FROM documents WHERE doc_id < 200
    )
    SELECT doc_id,
           CAST(i AS INTEGER) AS frame_idx,
           substring(hx, i * step * 2 + 1, step * 2) AS frame_hex
    FROM m, (SELECT unnest(range(4)) AS i) g
    WHERE i * step < n
    """,
)
def mm_sample_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over opaque media payloads: one row in → N frame
    rows out through mapInPandas (the video keyframe-extraction shape).
    The operator keeps its binary API (``sample_frames`` returns
    ``frame_bytes binary`` — what a production consumer wants); the
    query surface projects ``hex(frame_bytes)`` because raw binary is
    unhashable downstream (driver canonicalizer, pandas factorize).
    The demo subset is keyed (doc_id < 200), not limit(200): an
    unordered LIMIT is partition-order-dependent and can't be
    differentially checked."""
    documents = catalog.load(spark, sf_dir, "documents")
    frames = sample_frames(
        attach_media(documents.where(F.col("doc_id") < 200)), n_frames=4
    )
    return frames.select(
        "doc_id", "frame_idx", F.hex("frame_bytes").alias("frame_hex")
    )


@query(
    "mm_resize_batch",
    # Uniform byte striding over the UTF-8 payload: stride k =
    # max(ceil(n_bytes/256), 1), kept bytes at 0, k, 2k, ... — the
    # oracle recomputes the strided sum over hex-parsed bytes, exact
    # for any text (multi-byte UTF-8 included).
    oracle=f"""
    WITH m AS (
        SELECT doc_id,
               CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS n,
               greatest(
                 CAST(ceil(octet_length(encode(coalesce(text, ''))) / 256.0) AS INTEGER),
                 1) AS stride,
               hex(encode(text)) AS hx
        FROM documents
    )
    SELECT doc_id,
           n AS n_bytes,
           stride,
           CAST(ceil(n / CAST(stride AS DOUBLE)) AS BIGINT) AS out_bytes,
           CAST(coalesce(
             list_sum([{_hexbyte('i')}
                       FOR i IN range(0, CAST(n AS INTEGER), stride)]),
             0) AS BIGINT) AS out_sum
    FROM m
    """,
)
def mm_resize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media resize/downsample plumbing: every payload reduced to a
    ~256-byte budget by uniform striding inside an Arrow-batched
    mapInPandas kernel (operators/multimodal.resize_media) — the
    image-thumbnail / audio-decimation shape. The kernel is a
    deterministic fake (codec libs absent) emitting byte-exact stats;
    the Spark plumbing — binary column in, bounded payload out, stride
    recorded for provenance — is the real deliverable. No shuffle at
    all: a pure per-batch map, embarrassingly parallel at any scale."""
    documents = catalog.load(spark, sf_dir, "documents")
    return resize_media(attach_media(documents), target_bytes=256)


def _sem_clusters_oracle() -> str:
    from airflow_jira_etl_spark.queries.llm_ops import _hyperplane_bucket_sql

    return _SEM_CLUSTERS_ORACLE.replace(
        "__BUCKET__", _hyperplane_bucket_sql("embeddings")
    )


_SEM_CLUSTERS_ORACLE = f"""
    WITH RECURSIVE sig AS (
        -- rows WITHOUT an embedding cannot pair (same membership
        -- filter as the Spark side — a NULL list scores NULL, never
        -- >= tau; corrupt ELEMENTS are guarded inside cosine_sql);
        -- they still appear downstream as singleton components via
        -- the lbl seed over ALL ids
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
               __BUCKET__ AS bucket
        FROM embeddings
        WHERE embedding IS NOT NULL
    ),
    p AS (
        SELECT a.vec_id AS id1, b.vec_id AS id2
        FROM sig a
        JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE round({cosine_sql("a.e", "b.e")} + 1e-9, 4) >= 0.8
    ),
    edges AS (
        SELECT id1 AS src, id2 AS dst FROM p
        UNION
        SELECT id2, id1 FROM p
    ),
    lbl(id, comp) AS (
        -- NULL ids drop, matching dedup_clusters (r14 convention)
        SELECT vec_id, vec_id FROM embeddings WHERE vec_id IS NOT NULL
        UNION
        -- propagate smaller labels along edges until fixpoint: the
        -- recursive-CTE form of min-label connected components
        SELECT e.src, l.comp
        FROM edges e
        JOIN lbl l ON l.id = e.dst
        WHERE l.comp < e.src
    )
    SELECT id AS vec_id, min(comp) AS component,
           CAST(id = min(comp) AS BOOLEAN) AS is_canonical
    FROM lbl
    GROUP BY id
    """


@query("llm_dedup_semantic_clusters", oracle=_sem_clusters_oracle())
def llm_dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-based (semantic) dedup, end to end: hyperplane-LSH
    blocking → cosine ≥ 0.8 candidate pairs → connected components →
    every vector labeled (component, is_canonical). The semantic twin
    of llm_dedup_clusters — and, because both the blocking key and the
    cosine are portable arithmetic, the ONLY clusters query with a full
    SQL oracle: DuckDB recomputes the transitive closure independently
    with a recursive CTE, pinning the components operator's semantics
    against a second engine (the minhash variant can only be
    rows+recall-checked)."""
    from airflow_jira_etl_spark.operators.components import dedup_clusters
    from airflow_jira_etl_spark.queries.llm_ops import (
        _hp_n_bits,
        _hyperplane_bucket_spark,
    )

    emb = catalog.load(spark, sf_dir, "embeddings")
    n_bits = _hp_n_bits(emb.count())  # parquet-stats count: O(footer)
    # cache the signature relation and fill it EAGERLY before the
    # bucket self-join: lazy, the two join sides race to materialize it
    # and the scan + hyperplane projection runs twice concurrently —
    # the same race measured (and fixed, 2.7->1.8 s) in
    # llm_sim_pairs_threshold; see PLANS.md
    # NULL-embedding rows cannot pair (they become singleton components
    # via dedup_clusters over the FULL id set below); n_bits above
    # deliberately counts all rows — the oracle's CASE ladder does too
    from airflow_jira_etl_spark.functions.similarity import (
        cosine_prestats,
        vec_corrupt,
        vec_norm,
    )

    # per-ROW cosine invariants ride the cached signature pass —
    # same hoist as llm_sim_pairs_threshold, see similarity.vec_norm
    sig = emb.where(F.col("embedding").isNotNull()).select(
        "vec_id",
        "embedding",
        _hyperplane_bucket_spark(n_bits).alias("bucket"),
        vec_norm(F.col("embedding")).alias("_nrm"),
        vec_corrupt(F.col("embedding")).alias("_bad"),
    ).cache()
    sig.count()
    a, b = sig.alias("a"), sig.alias("b")

    pairs = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        # rounded-value membership on both engines (see
        # llm_sim_pairs_threshold): a pair within an ulp of 0.8 must not
        # be admitted by one float pipeline and rejected by the other
        .where(
            fround(
                cosine_prestats(
                    F.col("a.embedding"),
                    F.col("b.embedding"),
                    F.col("a._nrm"),
                    F.col("b._nrm"),
                    F.col("a._bad"),
                    F.col("b._bad"),
                )
            )
            >= 0.8
        )
        .select(F.col("a.vec_id").alias("id1"), F.col("b.vec_id").alias("id2"))
    )
    out = dedup_clusters(pairs, emb, "vec_id")
    return out.select(
        F.col("id").alias("vec_id"), "component", "is_canonical"
    )


@query(
    "llm_tfidf_top_terms",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS token
        FROM documents
    ),
    tf AS (
        SELECT doc_id, token, count(*) AS n_t
        FROM toks WHERE length(token) > 0
        GROUP BY doc_id, token
    ),
    dfreq AS (SELECT token, count(*) AS n_docs_with FROM tf GROUP BY token),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.token,
               CAST(tf.n_t AS DOUBLE) * n.n_docs / (dfreq.n_docs_with + 1)
                 AS raw_score
        FROM tf JOIN dfreq USING (token) CROSS JOIN n
    ),
    ranked AS (
        SELECT doc_id, token, raw_score,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY raw_score DESC, token) AS rank
        FROM scored
    )
    SELECT doc_id, token, round(raw_score + 1e-9, 4) AS score, rank
    FROM ranked WHERE rank <= 3
    """,
)
def llm_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by tf·idf — the
    keyword-extraction shape: term-frequency aggregate, document-
    frequency aggregate, broadcast corpus size, windowed top-k. The idf
    here is the LINEAR form n_docs/(df+1): exact small-integer rational
    arithmetic both engines reproduce bit-for-bit (log-idf is a
    one-expression swap whose libm last-ulp differences would make
    cross-engine ranking flaky). Two shuffles total — (doc, term) and
    (term) — both with map-side partial aggregation; the corpus size
    joins in as a broadcast scalar."""
    from pyspark.sql import Window

    docs = catalog.load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("token")
    ).where(F.length("token") > 0)
    # tf feeds BOTH the scored join and the document-frequency rollup —
    # cache the one tokenize+aggregate pass eagerly
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("n_t")).cache()
    tf.count()
    dfreq = tf.groupBy("token").agg(F.count("*").alias("n_docs_with"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            (
                F.col("n_t").cast("double")
                * F.col("n_docs")
                / (F.col("n_docs_with") + 1)
            ).alias("raw_score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("raw_score").desc(), "token")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("doc_id", "token", fround(F.col("raw_score")).alias("score"), "rank")
    )


@query(
    "llm_quality_repetition",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               [t FOR t IN string_split_regex(lower(text), '\\s+') IF length(t) > 0]
                 AS ws
        FROM documents
    ),
    grams AS (
        SELECT doc_id, ws,
               [ws[i] || ' ' || ws[i+1] FOR i IN range(1, greatest(len(ws), 2))]
                 AS bg
        FROM toks
    ),
    bg_top AS (
        SELECT doc_id, max(c) AS top_bg
        FROM (
            SELECT doc_id, g, count(*) AS c
            FROM (SELECT doc_id, unnest(bg) AS g FROM grams)
            GROUP BY doc_id, g
        )
        GROUP BY doc_id
    )
    SELECT g.doc_id,
           round(1.0 - CAST(len(list_distinct(g.ws)) AS DOUBLE) / len(g.ws)
                 + 1e-9, 4) AS rep_word_frac,
           round(CAST(b.top_bg AS DOUBLE) / len(g.bg) + 1e-9, 4)
             AS top_bigram_frac
    FROM grams g JOIN bg_top b USING (doc_id)
    WHERE len(g.ws) >= 2
    """,
)
def llm_quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signals (the Gopher-rules family): the
    repeated-word fraction (1 - type/token ratio) and the share of all
    word bigrams taken by the single most frequent bigram. High values
    flag boilerplate/spam for corpus filtering.

    The word stats are pure in-array math (size / array_distinct on the
    token array — no explode, no shuffle), and bigrams are built
    in-array with transform(sequence(...)) before the one explode the
    per-doc mode genuinely needs (a global (doc_id, gram) count is a
    groupBy, not a window sort — no explode + window-lead pass). n_bigrams is size(ws)-1 by construction, so the bigram
    side only carries max(count). Exact rational arithmetic → full
    cross-engine oracle."""
    docs = catalog.load(spark, sf_dir, "documents")
    # the tokenize map is CPU-heavy per input byte: decouple parallelism
    # from source file layout (same rationale as ngram_jaccard_pairs)
    n_par = spark.sparkContext.defaultParallelism
    ws = F.filter(
        F.split(F.lower("text"), r"\s+"), lambda t: F.length(t) > 0
    )
    # base feeds BOTH the bigram explode and the final stats projection —
    # cache it eagerly instead of tokenizing twice
    base = (
        docs.repartition(n_par, "doc_id")
        .select("doc_id", ws.alias("ws"))
        .where(F.size("ws") >= 2)
        .cache()
    )
    base.count()
    bg = F.expr(
        "transform(sequence(1, size(ws) - 1), i -> "
        "concat_ws(' ', element_at(ws, i), element_at(ws, i + 1)))"
    )
    top = (
        base.select("doc_id", F.explode(bg).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_bg"))
    )
    return base.join(top, "doc_id").select(
        "doc_id",
        fround(
            F.lit(1.0)
            - F.size(F.array_distinct("ws")).cast("double") / F.size("ws")
        ).alias("rep_word_frac"),
        fround(
            F.col("top_bg").cast("double") / (F.size("ws") - F.lit(1))
        ).alias("top_bigram_frac"),
    )


def _doc_distinct_grams(
    spark: SparkSession, docs: DataFrame, eager: bool = True
) -> DataFrame:
    """Per-doc-DISTINCT word 5-grams of the corpus, cached — shared by
    the exact (llm_decontaminate) and Bloom (llm_decontaminate_bloom)
    decontamination paths so the two stay gram-for-gram comparable.

    The tokenize + gram map is CPU-heavy per input byte: repartition
    decouples parallelism from file layout (same rationale as
    ngram_jaccard_pairs). 5-grams are built in-array over the FILTERED
    token array — no explode + 4× window-lead shuffle.
    The size(ws) >= 5 guard both keeps sequence() ascending and drops
    <5-word docs, matching the oracle (its out-of-range list index
    NULLs the gram and the IN-filter drops it). Grams are deduped per
    doc IN-ARRAY before the explode: every consumer (global eval
    distinct, per-doc match count, bitset build) only needs
    per-doc-distinct grams, so the exploded row count shrinks before
    anything shuffles. Cached because each query probes the SAME gram
    frame from two subtrees (eval build + train scan).

    ``eager`` (default) fills the cache with an immediate count —
    REQUIRED when the caller's first action reads grams from two
    subtrees at once (the exact path's one-job eval⋈train join would
    otherwise race both sides into computing the gram pass twice
    concurrently). The Bloom path passes eager=False: its
    bitset-sizing ``eval_grams.count()`` necessarily runs BEFORE any
    two-subtree action and already materializes every cached grams
    partition on the way — the extra fill job bought nothing there
    (measured ~0.3 s of the query's wall)."""
    n_par = spark.sparkContext.defaultParallelism
    ws = F.filter(
        F.split(F.lower("text"), r"\s+"), lambda t: F.length(t) > 0
    )
    gram_arr = F.expr(
        "transform(sequence(1, size(ws) - 4), i -> "
        "concat_ws(' ', slice(ws, i, 5)))"
    )
    grams = (
        docs.repartition(n_par, "doc_id")
        .select("doc_id", ws.alias("ws"))
        .where(F.size("ws") >= 5)
        .select("doc_id", F.explode(F.array_distinct(gram_arr)).alias("g"))
        .cache()
    )
    if eager:
        grams.count()
    return grams


@query(
    "llm_decontaminate",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               [t FOR t IN string_split_regex(lower(text), '\\s+') IF length(t) > 0]
                 AS ws
        FROM documents
    ),
    grams AS (
        SELECT doc_id,
               unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                       || ' ' || ws[i+3] || ' ' || ws[i+4]
                       FOR i IN range(1, greatest(len(ws) - 3, 2))]) AS g
        FROM toks
    ),
    eval_grams AS (
        SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0
    )
    SELECT doc_id, CAST(count(DISTINCT g) AS BIGINT) AS n_matched_grams
    FROM grams
    WHERE doc_id % 97 <> 0 AND g IN (SELECT g FROM eval_grams)
    GROUP BY doc_id
    """,
)
def llm_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word 5-gram with the held-out eval subset (doc_id % 97 — the
    deterministic stand-in for a benchmark table). The real pipeline
    concern this models: eval leakage detection before training; the
    gram is LONG (5 words) so only genuine shared passages match, not
    chance collisions in a small vocabulary. Scale shape: the eval
    gram set is tiny relative to the corpus and BROADCASTS — the
    train-side scan never shuffles its grams; matches collapse per doc
    with map-side partial aggregation. Gram equality is on the strings
    themselves, so the oracle needs no hash family. (The bitset-sized
    variant of this query is llm_decontaminate_bloom — the shape that
    survives when even the DISTINCT eval-gram set outgrows a join
    side.)"""
    docs = catalog.load(spark, sf_dir, "documents")
    return exact_decontaminate(spark, docs)


def exact_decontaminate(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Operator body over any (doc_id BIGINT, text STRING, ...) frame —
    the exact path ``bloom_decontaminate`` is diffed against."""
    grams = _doc_distinct_grams(spark, docs)
    eval_grams = (
        grams.where(F.col("doc_id") % 97 == 0).select("g").distinct()
    )
    return (
        grams.where(F.col("doc_id") % 97 != 0)
        # NO broadcast hint: the eval-gram set SCALES with the corpus
        # (distinct 5-grams of ~1/97 of all documents — hundreds of GB
        # at the 100 TB point), so a forced broadcast would hard-fail
        # at the 8 GB limit (or OOM the driver) exactly where the query
        # matters. Unhinted, AQE still broadcasts the tiny test-SF set
        # and degrades to a shuffle join at scale — the same frontier
        # convention as report_local_supplier_volume's supplier dim.
        .join(eval_grams, "g")
        # grams are per-doc distinct already, so a plain count IS the
        # distinct matched-gram count — no second dedup aggregate
        .groupBy("doc_id")
        .agg(F.count("g").alias("n_matched_grams"))
    )


# Bloom geometry: ≥16 bits per element with 7 probes gives a false-
# positive rate of (1 - e^(-7/16))^7 ≈ 7e-4 — two orders of magnitude
# under the 2% contract bound, so fixture regeneration cannot flip the
# boolean. The floor keeps tiny eval sets from degenerate tables.
_BLOOM_K = 7
_BLOOM_BITS_PER_ELEM = 16
_BLOOM_MIN_BITS = 1 << 14
_BLOOM_FP_BOUND = 0.02


# The k probe expressions are UNROLLED flat SQL, not
# transform/forall lambdas: higher-order functions fall out of
# whole-stage codegen into interpreted per-element evaluation, which
# measured ~7× slower on the probe's hot path at a 30× replication
# (all-hits worst case; the zero-bitset case hides it because forall
# short-circuits on the first probe). They reference h1/h2 columns
# (materialize with _bloom_hash_cols first) so each xxhash64 is
# computed once per row: double hashing pos_i = h1 + i * h2 mod m,
# with the step forced ODD so it cycles the whole power-of-two table;
# every operand is reduced mod m FIRST so the arithmetic stays far
# inside int64 under ANSI mode (h1 + 6*h2 < 13*m — the same overflow
# discipline as sampling._pct_bucket).


def _bloom_hash_cols(m_bits: int) -> tuple[str, str]:
    """(h1, h2) SQL over gram column ``g`` — the two double-hashing
    draws, h2 pre-oddened."""
    return (
        f"pmod(xxhash64(g), {m_bits})",
        f"2 * pmod(xxhash64(g, 1), {m_bits}) + 1",
    )


def _bloom_pos_sql(i: int, m_bits: int) -> str:
    return f"pmod(h1 + {i} * h2, {m_bits})"


def _bloom_positions_sql(m_bits: int) -> str:
    """All k probe positions as an array (build side: explode → bit
    OR-aggregate). Plain array() of unrolled elements — no lambda."""
    elems = ", ".join(_bloom_pos_sql(i, m_bits) for i in range(_BLOOM_K))
    return f"array({elems})"


def _bloom_member_sql(m_bits: int) -> str:
    """Membership: AND over the k unrolled bit tests against the dense
    BIGINT-array bitset ``bits`` (1-based element_at). ``bits`` must
    come from a one-row broadcast DataFrame, NOT an F.lit array — a
    32k-element Python-list literal lands as boxed GenericArrayData
    and element_at pays unboxing per probe (measured 5× slower than
    the UnsafeArrayData a broadcast row carries)."""
    return " AND ".join(
        f"(element_at(bits, CAST(({_bloom_pos_sql(i, m_bits)}) DIV 64"
        f" AS INT) + 1)"
        f" & shiftleft(CAST(1 AS BIGINT),"
        f" CAST(({_bloom_pos_sql(i, m_bits)}) % 64 AS INT))) != 0"
        for i in range(_BLOOM_K)
    )


@query(
    "llm_decontaminate_bloom",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               [t FOR t IN string_split_regex(lower(text), '\\s+') IF length(t) > 0]
                 AS ws
        FROM documents
    ),
    grams AS (
        SELECT doc_id,
               unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                       || ' ' || ws[i+3] || ' ' || ws[i+4]
                       FOR i IN range(1, greatest(len(ws) - 3, 2))]) AS g
        FROM toks
    ),
    eval_grams AS (
        SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0
    )
    SELECT doc_id, CAST(count(DISTINCT g) AS BIGINT) AS n_matched_grams,
           TRUE AS no_false_negatives, TRUE AS fp_rate_ok
    FROM grams
    WHERE doc_id % 97 <> 0 AND g IN (SELECT g FROM eval_grams)
    GROUP BY doc_id
    """,
)
def llm_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination — the 100 TB path for
    llm_decontaminate. At scale the DISTINCT eval-gram set is itself
    hundreds of GB (llm_decontaminate deliberately leaves its join
    unhinted for exactly that reason), but a Bloom bitset over it is
    FIXED-SIZE (16 bits/gram, sized to the next power of two):
    the train scan then probes a broadcast array of BIGINTs with pure
    codegen bit arithmetic — no shuffle ever touches the train-side
    gram stream, the runtime-filter shape Spark itself uses for its
    own Bloom join filters.

    Plan shape: (1) one pass over the tiny eval slice explodes each
    gram's k=7 probe positions and folds them into a sparse
    (word_idx, OR-of-bits) aggregate, then ONE dense array row via
    map_from_arrays — the bitset build is a JVM-side aggregation, no
    UDF, no driver loop; (2) the train stream cross-joins the ONE-ROW
    bitset (explicit broadcast — it is m/64 longs by construction, a
    few hundred KB, unlike the unboundable exact gram set) and
    evaluates the k probes in-array. The exact join runs alongside on
    the same cached gram frame to ground the differential contract.

    Differential surface (the agg_approx_distinct boolean-contract
    style — sketch internals differ across engines by design, so the
    oracle checks the exact counts plus the sketch's CONTRACT):
    ``n_matched_grams`` is the exact per-doc matched-gram count
    (identical to llm_decontaminate); ``no_false_negatives`` asserts
    every exact-matched gram also Bloom-matched (structurally
    guaranteed — build and probe share the position family);
    ``fp_rate_ok`` asserts the corpus-wide false-positive rate among
    truly-unmatched train grams stays under 2% (measured ~7e-4 at the
    16-bits/elem geometry). The bitset is sized off ONE driver-side
    scalar (the eval-gram count on the already-cached gram frame) —
    the same driver-resident-metadata trade as the IVF index, and the
    two-pass sizing is what keeps the FP bound scale-invariant."""
    docs = catalog.load(spark, sf_dir, "documents")
    return bloom_decontaminate(spark, docs)


def bloom_decontaminate(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Operator body over any (doc_id BIGINT, text STRING, ...) frame,
    so tests can diff it against ``exact_decontaminate`` on replicated
    corpora (see llm_decontaminate_bloom for semantics and the plan
    narrative)."""
    # eager=False: the n_eval sizing count below is this query's first
    # action and fills the shared grams cache itself (see
    # _doc_distinct_grams) — the default eager fill would be a
    # duplicate pass over the corpus
    grams = _doc_distinct_grams(spark, docs, eager=False)
    # cached: THREE consumers re-aggregate the eval distinct otherwise
    # (the sizing count, the bitset build, the exact grounding join) —
    # at scale that is 3× a shuffle over 1/97th of the corpus's grams
    eval_grams = (
        grams.where(F.col("doc_id") % 97 == 0).select("g").distinct()
    ).cache()

    # size the table to the eval-gram cardinality (driver scalar on
    # cached data): next power of two >= 16 bits/elem, floored —
    # this count also materializes the eval-gram cache for the two
    # downstream consumers
    n_eval = eval_grams.count()
    m_bits = _BLOOM_MIN_BITS
    while m_bits < _BLOOM_BITS_PER_ELEM * n_eval:
        m_bits <<= 1
    n_words = m_bits // 64

    h1_sql, h2_sql = _bloom_hash_cols(m_bits)

    # (1) bitset build: explode probe positions -> sparse word OR-agg
    # -> one dense BIGINT-array row. Densification is a range LEFT
    # JOIN + ordered collect, NOT a map lookup per index: element_at
    # on a map_from_arrays map is a LINEAR scan, so the earlier
    # transform(sequence(0, n_words-1), i -> mp[i]) form was O(n_words
    # ^2) interpreted work inside the one-row projection — 130 s to
    # materialize a 32k-word table at a 30× replication, and it hid
    # from .count() because count prunes the array column. The join
    # form is O(n log n), whole-plan JVM, and the collect_list stays
    # bounded at n_words structs (broadcast-sized by construction).
    sparse = (
        eval_grams.withColumn("h1", F.expr(h1_sql))
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
    dense = "transform(array_sort(collect_list(struct(w, word))), " \
        "e -> coalesce(e.word, CAST(0 AS BIGINT)))"
    bitset = (
        spark.range(n_words)
        .select(F.col("id").alias("w"))
        .join(sparse, "w", "left")
        .agg(F.expr(dense).alias("bits"))
    )

    # (2) probe: every train gram tests k bits of the ONE-ROW
    # broadcast bitset (its UnsafeArrayData gives O(1) unboxed
    # element_at — see _bloom_member_sql for why not an F.lit array)
    # with the unrolled codegen predicate; the exact join rides the
    # same pass to flag true matches
    flagged = (
        grams.where(F.col("doc_id") % 97 != 0)
        .crossJoin(F.broadcast(bitset))
        .withColumn("h1", F.expr(h1_sql))
        .withColumn("h2", F.expr(h2_sql))
        .withColumn("bloom_hit", F.expr(_bloom_member_sql(m_bits)))
        .join(
            eval_grams.withColumn("exact_hit", F.lit(True)), "g", "left"
        )
        .select(
            "doc_id",
            "bloom_hit",
            F.coalesce("exact_hit", F.lit(False)).alias("exact_hit"),
        )
    )
    per_doc = flagged.groupBy("doc_id").agg(
        F.sum(F.col("exact_hit").cast("long")).alias("n_matched_grams"),
        F.sum(
            (F.col("exact_hit") & ~F.col("bloom_hit")).cast("long")
        ).alias("n_false_neg"),
        F.sum(
            (F.col("bloom_hit") & ~F.col("exact_hit")).cast("long")
        ).alias("n_fp"),
        F.sum((~F.col("exact_hit")).cast("long")).alias("n_neg"),
    ).cache()  # docs-sized; feeds the output rows AND the FP totals —
    # uncached, the totals branch re-executes the WHOLE probe pipeline
    # including a second bitset build (verified on .explain before the
    # fix: two IdentityBroadcastMode subtrees)
    # corpus-wide FP rate from the per-doc partials (docs-sized, not
    # grams-sized) — broadcast the one-row total back onto the rows
    totals = per_doc.agg(
        F.sum("n_fp").alias("t_fp"), F.sum("n_neg").alias("t_neg")
    )
    return (
        per_doc.where(F.col("n_matched_grams") > 0)
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            "n_matched_grams",
            (F.col("n_false_neg") == 0).alias("no_false_negatives"),
            (
                F.col("t_fp")
                <= F.lit(_BLOOM_FP_BOUND) * F.greatest("t_neg", F.lit(1))
            ).alias("fp_rate_ok"),
        )
    )


@query(
    "llm_corpus_stats",
    oracle="""
    WITH lens AS (
        SELECT lang, doc_id, length(text) AS len,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY length(text), doc_id) AS rn,
               count(*) OVER (PARTITION BY lang) AS n
        FROM documents
    )
    SELECT lang,
           CAST(max(n) AS BIGINT) AS n_docs,
           CAST(sum(len) AS BIGINT) AS total_chars,
           CAST(min(len) AS BIGINT) AS min_len,
           CAST(max(len) AS BIGINT) AS max_len,
           CAST(max(CASE WHEN rn = (n + 1) // 2 THEN len END) AS BIGINT)
             AS median_len
    FROM lens
    GROUP BY lang
    ORDER BY lang
    """,
)
def llm_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus card: doc count, char volume, min/max and
    EXACT median length, computed via the rank-selection identity
    (value ordered ascending, pick rank (n+1) div 2 — the lower
    median) rather than approx_percentile: exact integer semantics
    both engines reproduce.

    Shape ("aggregate before you shuffle"): the median VALUE at rank r
    depends only on per-(lang, len) multiplicities — the oracle's doc_id
    tie-break orders rows WITHIN one length, so the selected length is
    tie-break-invariant. The corpus collapses to (lang, len) counts
    first (map-side partial aggregation: the shuffle carries |langs ×
    distinct lengths| rows — domain-bounded at any corpus size), and
    every output statistic (count, char volume, min/max, median by
    cumulative-count rank selection) derives from those counts. This
    form is ONE action with no range exchange, sampling scan,
    localCheckpoint or driver collect, and nothing row-sized ever
    shuffles. The per-lang window runs over the aggregated domain rows
    only."""
    from pyspark.sql import Window

    docs = catalog.load(spark, sf_dir, "documents")
    cnts = (
        docs.select("lang", F.length("text").alias("len"))
        .groupBy("lang", "len")
        .agg(F.count("*").alias("_cnt"))
    )
    # NULLS LAST, matching DuckDB's ASC default — Spark's default is
    # NULLS FIRST, so a NULL-text row (len NULL) would otherwise shift
    # every rank by one and move the selected median
    w = (
        Window.partitionBy("lang")
        .orderBy(F.col("len").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy("lang")
    ranked = cnts.select(
        "lang",
        "len",
        "_cnt",
        F.sum("_cnt").over(w).alias("_hi"),
        F.sum("_cnt").over(wn).alias("_n"),
    ).withColumn("_lo", F.col("_hi") - F.col("_cnt"))
    return (
        ranked.groupBy("lang")
        .agg(
            F.max("_n").alias("n_docs"),
            # NULL lens contribute rows to n_docs but nothing to the
            # char volume — len * count is NULL for the NULL-len group
            # and sum skips it, exactly as sum(len) over rows does
            F.sum(F.col("len") * F.col("_cnt")).cast("long").alias(
                "total_chars"
            ),
            F.min("len").cast("long").alias("min_len"),
            F.max("len").cast("long").alias("max_len"),
            F.max(
                # integer div — `/` is double division and (n+1)/2 for
                # even n would match no integer rank; the distinct len
                # whose cumulative span (_lo, _hi] covers the target
                # rank is the lower median
                F.when(
                    (F.col("_lo") < F.expr("(_n + 1) div 2"))
                    & (F.expr("(_n + 1) div 2") <= F.col("_hi")),
                    F.col("len"),
                )
            )
            .cast("long")
            .alias("median_len"),
        )
        .orderBy("lang")
    )


# PII patterns shared verbatim by the Spark query and the DuckDB oracle
# (Java regex and RE2 agree on this restricted syntax: literal classes,
# bounded repetition, no lookaround).
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\+?[0-9]{2,3}[- ][0-9]{3}[- ][0-9]{4}"


def _pii_oracle() -> str:
    return f"""
    WITH aug AS (
        SELECT doc_id,
               text || ' Contact: user' || CAST(doc_id AS VARCHAR)
                    || '@example.com'
                    || CASE WHEN doc_id % 3 = 0
                            THEN ' or +90 555-123-4567' ELSE '' END
                    AS raw
        FROM documents
    )
    SELECT doc_id,
           regexp_replace(
               regexp_replace(raw, '{_PII_EMAIL}', '[EMAIL]', 'g'),
               '{_PII_PHONE}', '[PHONE]', 'g') AS clean_text,
           CAST(len(regexp_extract_all(raw, '{_PII_EMAIL}')) AS INT)
               AS n_emails,
           CAST(len(regexp_extract_all(raw, '{_PII_PHONE}')) AS INT)
               AS n_phones
    FROM aug
    """


@query("llm_pii_scrub", oracle=_pii_oracle())
def llm_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over the corpus — the compliance pass every
    training-data pipeline runs before anything else: emails and
    phone-shaped tokens are replaced with typed placeholders and
    counted per document. Pure codegen (regexp_replace /
    regexp_extract_all, no UDF), so it rides the same whole-stage
    pipeline as any projection — at 100 TB this is a map-only pass
    with zero shuffle. The fixture text carries no real PII, so each
    document is augmented with a deterministic synthetic contact line
    (email always, phone for every third doc) — both engines build the
    identical input, keeping the oracle differential."""
    docs = catalog.load(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" Contact: user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com"),
            F.when(
                F.col("doc_id") % 3 == 0, F.lit(" or +90 555-123-4567")
            ).otherwise(F.lit("")),
        ).alias("raw"),
    )
    return aug.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace("raw", _PII_EMAIL, "[EMAIL]"),
            _PII_PHONE,
            "[PHONE]",
        ).alias("clean_text"),
        # F.lit patterns, not F.expr SQL strings: a Spark SQL literal
        # would re-interpret the regex backslashes as string escapes
        F.size(
            F.regexp_extract_all(F.col("raw"), F.lit(_PII_EMAIL), F.lit(0))
        ).alias("n_emails"),
        F.size(
            F.regexp_extract_all(F.col("raw"), F.lit(_PII_PHONE), F.lit(0))
        ).alias("n_phones"),
    )


@query(
    "llm_quality_entropy",
    oracle="""
    WITH ch AS (
        SELECT doc_id, unnest(string_split_regex(lower(text), '')) AS c
        FROM documents WHERE doc_id IS NOT NULL
    ),
    cnt AS (
        SELECT doc_id, c, count(*) AS n FROM ch GROUP BY doc_id, c
    ),
    tot AS (SELECT doc_id, sum(n) AS t FROM cnt GROUP BY doc_id),
    ent AS (
        SELECT cnt.doc_id,
               CAST(max(tot.t) AS BIGINT) AS n_chars_total,
               CAST(count(*) AS INT) AS n_distinct_chars,
               -sum((CAST(n AS DOUBLE) / tot.t)
                    * ln(CAST(n AS DOUBLE) / tot.t)) AS h
        FROM cnt JOIN tot ON cnt.doc_id = tot.doc_id
        GROUP BY cnt.doc_id
    )
    SELECT d.doc_id,
           coalesce(e.n_chars_total, 0) AS n_chars_total,
           coalesce(e.n_distinct_chars, 0) AS n_distinct_chars,
           round(coalesce(e.h, 0) + 1e-9, 4) AS char_entropy
    FROM documents d LEFT JOIN ent e ON d.doc_id = e.doc_id
    WHERE d.doc_id IS NOT NULL
    """,
)
def llm_quality_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy quality signal (low entropy = repetitive or
    degenerate text, a standard pre-training corpus filter). Pure
    in-array whole-stage codegen — per document: distinct chars →
    per-char probability → −Σ p·ln p — zero shuffle, zero explode; the
    same map-only pass at 100 TB. The oracle recomputes it the
    relational way (unnest → group → window), pinning the in-array
    lowering against an independent formulation, not just an
    independent engine. NULL doc_id rows drop on BOTH engines
    (docs-drift armor): the engine's map is row-wise, but the oracle's
    relational reconstruction needs the key to regroup characters —
    two identity-less docs would merge into one NULL group and score
    garbage, so the differential surface is defined over keyed rows
    only."""
    documents = catalog.load(spark, sf_dir, "documents")
    documents = documents.where(F.col("doc_id").isNotNull())
    # per-char counts WITHOUT a quadratic distinct×scan pass: sort the
    # char array once, mark run boundaries, run lengths are the counts
    # — O(n log n) per document, each array built exactly once
    return (
        documents.select(
            "doc_id", F.expr("array_sort(split(lower(text), ''))").alias("ss")
        )
        .select("doc_id", "ss", F.size("ss").alias("n"))
        .select(
            "doc_id",
            "n",
            F.expr(
                "filter(sequence(1, greatest(n, 1)), i -> "
                " i = 1 OR element_at(ss, i) <> element_at(ss, i - 1))"
            ).alias("bs"),
        )
        .select(
            "doc_id",
            "n",
            "bs",
            F.expr(
                "transform(sequence(1, size(bs)), k -> "
                " (CASE WHEN k < size(bs) THEN element_at(bs, k + 1)"
                "       ELSE n + 1 END) - element_at(bs, k))"
            ).alias("cnts"),
        )
        .select(
            "doc_id",
            # NULL text rows read as (0, 0, 0.0), exactly the oracle's
            # LEFT JOIN + coalesce branch — the n = 0 guards alone
            # missed n IS NULL and leaked (NULL, 1, NULL)
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias(
                "n_chars_total"
            ),
            F.expr("CASE WHEN n IS NULL OR n = 0 THEN 0 ELSE size(bs) END")
            .cast("int")
            .alias("n_distinct_chars"),
            fround(
                F.expr(
                    "CASE WHEN n IS NULL OR n = 0 THEN 0D ELSE"
                    " -aggregate(cnts, 0D, (acc, c) ->"
                    "   acc + (c / cast(n AS double))"
                    "         * ln(c / cast(n AS double))) END"
                )
            ).alias("char_entropy"),
        )
    )


@query(
    "llm_corpus_clean_pipeline",
    oracle=f"""
    WITH kept AS (
        SELECT doc_id, lang, text,
               length(text) - length(replace(text, ' ', '')) + 1 AS n_words
        FROM documents
        WHERE lang IN ('en', 'de', 'fr', 'es')
          AND n_chars BETWEEN 60 AND 2000
          AND length(text) - length(replace(text, ' ', '')) + 1 >= 10
    ),
    keepers AS (
        SELECT min(doc_id) AS doc_id FROM kept GROUP BY lower(trim(text))
    )
    SELECT k.doc_id, k.lang, CAST(k.n_words AS BIGINT) AS n_words,
           CASE WHEN {_PCT_SQL.replace('doc_id', 'k.doc_id')} < 80
                     THEN 'train'
                WHEN {_PCT_SQL.replace('doc_id', 'k.doc_id')} < 90
                     THEN 'val'
                ELSE 'test' END AS split
    FROM kept k JOIN keepers USING (doc_id)
    """,
)
def llm_corpus_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-corpus cleaning job, composed from the
    engine's own stages: language allowlist → quality gates (char
    bounds + minimum word count) → exact dedup (deterministic min-id
    keeper per normalized text) → reproducible 80/10/10 split by key
    hash. One pipeline a reference user would run nightly, registered
    as a single driver-checked query. Plan shape: the filters fuse
    into the scan (pushed + codegen), dedup is one hash shuffle on the
    normalized text, the keeper set joins back LEFT SEMI (only keys
    cross), and the split is a pure map — two exchanges end to end, at
    any scale. Filters run BEFORE dedup on purpose: no shuffle
    bandwidth is spent normalizing documents that lose the quality
    gate anyway."""
    documents = catalog.load(spark, sf_dir, "documents")
    n_words = (
        F.length("text") - F.length(F.regexp_replace("text", " ", "")) + 1
    )
    kept = (
        documents.where(F.col("lang").isin("en", "de", "fr", "es"))
        .where(F.col("n_chars").between(60, 2000))
        .withColumn("n_words", n_words.cast("long"))
        .where(F.col("n_words") >= 10)
    )
    keepers = kept.groupBy(F.lower(F.trim(F.col("text"))).alias("__norm")).agg(
        F.min("doc_id").alias("doc_id")
    )
    # overflow-proof split hash (see sampling._pct_bucket: the raw
    # Knuth multiply is a hard ANSI error for doc_id >= ~3.47e9)
    bucket = _pct_bucket(F.col("doc_id"))
    return (
        kept.join(keepers.select("doc_id"), "doc_id", "left_semi")
        .select(
            "doc_id",
            "lang",
            "n_words",
            F.when(bucket < 80, "train")
            .when(bucket < 90, "val")
            .otherwise("test")
            .alias("split"),
        )
    )


@query(
    "llm_dedup_paragraph",
    oracle="""
    WITH segs AS (
        SELECT doc_id, CAST(gs.i AS BIGINT) AS seg_idx,
               array_to_string(w[gs.i*4+1 : gs.i*4+4], ' ') AS seg
        FROM (SELECT doc_id, string_split(text, ' ') AS w
              FROM documents
              WHERE text IS NOT NULL AND doc_id IS NOT NULL) t,
             LATERAL (SELECT unnest(range(CAST(ceil(len(w)/4.0) AS BIGINT)))
                      AS i) gs(i)
    ),
    firsts AS (
        -- corpus-wide first occurrence in (doc_id, seg_idx) order,
        -- encoded as one BIGINT so min() is the argmin (seg_idx <
        -- 2^20 by construction: a 4-word segment index over documents
        -- would need a ~4M-word doc to overflow; doc_id * 2^20 stays
        -- under 2^63 up to doc_id ~ 2^43)
        SELECT seg, min(doc_id * 1048576 + seg_idx) AS first_key
        FROM segs GROUP BY seg
    )
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_segs,
           CAST(sum(CASE WHEN s.doc_id * 1048576 + s.seg_idx = f.first_key
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           coalesce(string_agg(
               CASE WHEN s.doc_id * 1048576 + s.seg_idx = f.first_key
                    THEN s.seg END, ' ' ORDER BY s.seg_idx), '')
             AS clean_text
    FROM segs s JOIN firsts f USING (seg)
    GROUP BY s.doc_id
    """,
)
def llm_dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level dedup (the Dolma / RefinedWeb shape): split each
    document into consecutive 4-word segments (the corpus is a
    single-line word salad, so fixed word windows stand in for the
    blank-line paragraphs of real corpora), keep only the corpus-wide
    FIRST occurrence of every segment in deterministic (doc_id,
    seg_idx) order, and reassemble each document from its surviving
    segments — per-doc total/kept counts ride along so the drop rate
    is auditable. Exact reconstruction: the split keeps empty tokens
    (doubled/leading/trailing spaces round-trip through split+join
    byte-identically on both engines — verified on the adversarial
    docs corpus), and a fully-duplicated document reassembles to ''.

    Scale shape (plan-verified at sf0.01): the explode is linear in
    corpus words and deliberately evaluates twice — once under the
    first-occurrence aggregate, once as the keep-join probe (the same
    lazy-rescan trade the scan audit triages for llm_sim_topk et al.:
    re-running a linear explode beats materializing |segments| rows).
    The first-occurrence pass is ONE shuffle keyed on the segment
    with map-side partial min (the argmin is min() over an encoded
    (doc_id, seg_idx) BIGINT, so it combines). The keep-join is
    UNHINTED: below the broadcast threshold AQE broadcasts the
    aggregated firsts (the local plan — zero probe-side shuffle);
    above it, the join degrades to SMJ on the segment key where the
    aggregate side arrives already partitioned on seg, so only the
    probe side pays a new exchange. Reassembly is one
    groupBy(doc_id). At 100 TB the segment STRING key would be
    replaced by xxhash64(seg) for shuffle width (collision rate 2^-64
    per pair — acceptable for dedup, same trade the minhash family
    documents); the string key stays here because the oracle needs
    exact-equality semantics, and the plan shape is identical either
    way. Segment index < 2^20 and |doc_id| < 2^43 keep the encoded
    argmin overflow-free (the INT32-edge doc_ids in the adversarial
    corpus sit at 2^31); the contract is ENFORCED at runtime — the
    encoding raises on the first out-of-range row instead of silently
    corrupting first-occurrence order (see paragraph_dedup and
    tests/test_paragraph_dedup.py)."""
    docs = catalog.load(spark, sf_dir, "documents")
    return paragraph_dedup(docs)


def paragraph_dedup(docs: DataFrame) -> DataFrame:
    """Operator body over any (doc_id BIGINT, text STRING, ...) frame,
    so tests can drive it on replicated corpora (see
    llm_dedup_paragraph for semantics and the plan narrative)."""
    # NULL doc_id drops with NULL text (both engines): a document
    # without an identity cannot hold a place in (doc_id, seg_idx)
    # first-occurrence order — and filtering it FIRST keeps the range
    # guard below a pure in-range/out-of-range decision (a NULL key
    # would otherwise null the guard condition into the raise branch)
    words = docs.where(
        F.col("text").isNotNull() & F.col("doc_id").isNotNull()
    ).select("doc_id", F.split("text", " ").alias("w"))
    seg_of = lambda i: F.array_join(  # noqa: E731 — tight lambda
        F.slice("w", i * 4 + 1, 4), " "
    )
    segs = words.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    (F.ceil(F.size("w") / 4) - 1).cast("int"),
                ),
                seg_of,
            )
        ).alias("seg_idx", "seg"),
    )
    # encoded (doc_id, seg_idx) argmin key — order-preserving only
    # while seg_idx < 2^20 and |doc_id| < 2^43. Enforce the contract
    # inside the encoding itself: the guard is a per-row codegen
    # predicate in the already-linear segment stage (no extra scan,
    # no extra shuffle) and raises on the FIRST violating row rather
    # than letting encodings collide across doc_ids and silently
    # reorder first occurrences. A >= 2^20 seg_idx means
    # a ~4M-word document — at that point the right fix is widening
    # to a struct argmin, and a loud error is what forces it. The
    # |doc_id| bound is an explicit two-sided compare, NOT abs():
    # under ANSI mode abs(INT64_MIN) raises an overflow error, which
    # would replace the contract message at that one extreme input.
    enc = F.when(
        (F.col("seg_idx") < F.lit(1 << 20))
        & (F.col("doc_id") < F.lit(1 << 43))
        & (F.col("doc_id") > F.lit(-(1 << 43))),
        F.col("doc_id") * 1048576 + F.col("seg_idx"),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "paragraph_dedup argmin encoding contract violated "
                    "(need seg_idx < 2^20 and |doc_id| < 2^43): doc_id="
                ),
                F.col("doc_id").cast("string"),
                F.lit(" seg_idx="),
                F.col("seg_idx").cast("string"),
            )
        )
    )
    firsts = segs.groupBy("seg").agg(F.min(enc).alias("first_key"))
    flagged = segs.join(firsts, "seg").withColumn(
        "kept", enc == F.col("first_key")
    )
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_segs"),
        F.sum(F.col("kept").cast("long")).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("kept"),
                            F.struct(
                                F.col("seg_idx").alias("i"),
                                F.col("seg").alias("s"),
                            ),
                        )
                    )
                ),
                lambda e: e.s,
            ),
        ).alias("clean_text"),
    )
