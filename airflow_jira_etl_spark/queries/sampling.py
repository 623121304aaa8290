"""Unpivot, subqueries, and reproducible sampling/splits.

The sampling ops use ARITHMETIC hashing (Knuth multiplicative mod 100)
rather than ``rand()``: at 100 TB, reproducible sampling must be a
pure function of the row key — stable across retries, partitionings
and engines — or every stage retry silently changes the corpus. The
same property makes them exactly SQL-oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from airflow_jira_etl_spark import catalog
from airflow_jira_etl_spark.registry import query


@query(
    "agg_unpivot",
    oracle="""
    SELECT c_custkey, 'acctbal' AS metric, c_acctbal AS value FROM customer
    UNION ALL
    SELECT c_custkey, 'nationkey' AS metric, CAST(c_nationkey AS DOUBLE) AS value
    FROM customer
    """,
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide → long) via ``stack`` — the inverse of agg_pivot;
    one generator row per measure, no shuffle."""
    customer = catalog.load(spark, sf_dir, "customer")
    return customer.select(
        "c_custkey",
        F.expr(
            "stack(2, 'acctbal', c_acctbal, "
            "'nationkey', CAST(c_nationkey AS DOUBLE)) AS (metric, value)"
        ),
    ).select("c_custkey", "metric", "value")


@query(
    "filter_scalar_subquery",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders o
    WHERE o_totalprice > (SELECT avg(o2.o_totalprice) FROM orders o2
                          WHERE o2.o_orderstatus = o.o_orderstatus)
    """,
)
def filter_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery: orders above their status group's
    average. Catalyst de-correlates this into an aggregate + join —
    no per-row subquery execution ever happens (check the plan: one
    extra aggregate, one join)."""
    catalog.load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders o
        WHERE o_totalprice > (SELECT avg(o2.o_totalprice) FROM orders o2
                              WHERE o2.o_orderstatus = o.o_orderstatus)
        """
    )


# Knuth's multiplicative hash; mod 100 gives a stable percent bucket.
# The key is floor-modded to 31 bits FIRST so the multiply stays inside
# int64 for ANY int64 key — raw `key * A` overflows for keys ≥ ~3.47e9
# (a hard ARITHMETIC_OVERFLOW under Spark's default ANSI mode; a silent
# sign flip without it), which is routine at the 100 TB design point.
# For the fixtures' sub-2^31 ids the bucket values are unchanged.
_HASH_A = 2654435761
_MOD31 = 2_147_483_648  # 2^31
# sign-safe floor mod in portable SQL (both engines' % truncates)
_PCT_SQL = (
    f"((doc_id % {_MOD31}) + {_MOD31}) % {_MOD31} * {_HASH_A} % 100"
)


def _pct_bucket(col: Column) -> Column:
    return F.pmod(F.pmod(col, F.lit(_MOD31)) * F.lit(_HASH_A), F.lit(100))


@query(
    "llm_corpus_sample",
    oracle=f"""
    SELECT doc_id, lang,
           CAST({_PCT_SQL} AS BIGINT) AS pct_bucket
    FROM documents
    WHERE {_PCT_SQL} < 10
    """,
)
def llm_corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible 10% corpus sample by key hash. Unlike
    ``df.sample()`` (rand() per task — changes under retries and
    repartitioning), the hash bucket is a pure function of doc_id:
    the same document is always in or out, on any cluster."""
    documents = catalog.load(spark, sf_dir, "documents")
    bucket = _pct_bucket(F.col("doc_id"))
    return (
        documents.withColumn("pct_bucket", bucket.cast("long"))
        .where(F.col("pct_bucket") < 10)
        .select("doc_id", "lang", "pct_bucket")
    )


@query(
    "llm_train_val_test_split",
    oracle=f"""
    SELECT lang, split,
           count(*) AS n_docs
    FROM (
        SELECT lang,
               CASE WHEN {_PCT_SQL} < 80 THEN 'train'
                    WHEN {_PCT_SQL} < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    )
    GROUP BY lang, split
    """,
)
def llm_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by key hash,
    summarized per language. Documents never migrate between splits as
    the corpus grows — append-only stability, the property that matters
    for dataset versioning."""
    documents = catalog.load(spark, sf_dir, "documents")
    bucket = _pct_bucket(F.col("doc_id"))
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        documents.withColumn("split", split)
        .groupBy("lang", "split")
        .agg(F.count("*").alias("n_docs"))
    )


# Per-language sampling rates (percent): downsample the dominant
# language, upsample the rare ones — the corpus-rebalancing shape.
_STRATA_RATES = {"en": 10, "de": 50, "fr": 50, "es": 50, "zh": 30}


@query(
    "llm_stratified_sample",
    oracle=f"""
    SELECT doc_id, lang,
           CAST({_PCT_SQL} AS BIGINT) AS pct_bucket
    FROM documents
    WHERE {_PCT_SQL} <
          CASE lang WHEN 'en' THEN 10 WHEN 'de' THEN 50 WHEN 'fr' THEN 50
                    WHEN 'es' THEN 50 WHEN 'zh' THEN 30 ELSE 0 END
    """,
)
def llm_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRATIFIED reproducible sampling: each language keeps its own
    rate (downsample the dominant stratum, upsample the rare ones — the
    language-rebalancing pass every multilingual corpus needs). Same
    multiplicative-hash bucket as llm_corpus_sample, so membership is a
    pure function of doc_id: append-stable, retry-stable, and a
    document's in/out decision never depends on partitioning. The rate
    table joins in as a broadcast (it is |languages| rows)."""
    from pyspark.sql import Row

    documents = catalog.load(spark, sf_dir, "documents")
    rates = documents.sparkSession.createDataFrame(
        [Row(lang=k, rate=v) for k, v in sorted(_STRATA_RATES.items())]
    )
    bucket = _pct_bucket(F.col("doc_id"))
    return (
        documents.withColumn("pct_bucket", bucket.cast("long"))
        .join(F.broadcast(rates), "lang")
        .where(F.col("pct_bucket") < F.col("rate"))
        .select("doc_id", "lang", "pct_bucket")
    )


# Weighted reservoir: k docs per language, selection preference
# proportional to document length. The full 31-bit hash (the _pct_
# bucket family without the mod-100 collapse) plays the role of the
# uniform draw in Efraimidis–Spirakis A-Res; the priority is the
# INTEGER rational hash*10^6 DIV weight instead of the continuous
# u^(1/w) key, so the cross-engine comparison is exact integer
# arithmetic end to end (no libm pow whose last-ulp differences could
# flip a rank at the reservoir boundary). h < 2^31 and the 10^6 scale
# keep every product under 2^51 — no ANSI overflow for any int64 key.
_RESERVOIR_K = 20
_H31_SQL = (
    "((doc_id % 2147483648) + 2147483648) % 2147483648"
    " * 2654435761 % 2147483648"
)
_PRIORITY_SQL = (
    f"({_H31_SQL}) * 1000000 // greatest(coalesce(n_chars, 0), 1)"
)


@query(
    "llm_reservoir_sample",
    oracle=f"""
    SELECT lang, doc_id, priority, rn FROM (
        SELECT lang, doc_id, priority,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY priority, doc_id) AS rn
        FROM (SELECT lang, doc_id,
                     {_PRIORITY_SQL} AS priority
              FROM documents)
    ) WHERE rn <= {_RESERVOIR_K}
    """,
)
def llm_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted reservoir: the 20 highest-priority
    documents per language, with selection preference proportional to
    n_chars (longer docs are likelier picked — the length-weighted
    curation shape; swap the weight column to reweight). Unlike
    rand()-keyed reservoirs, the priority is a pure function of
    doc_id, so the sample is retry-stable, partitioning-stable, and
    append-stable in the reservoir sense: a new document enters only
    by displacing the current boundary, never by reshuffling survivors.

    Scale slice: per-group top-k via a window PARTITIONED on lang
    (lint-clean; win_topk_per_group's shape) — and the plan
    (verified .explain, sf0.01) already contains the skew fix: the
    rank-limit pushdown inserts WindowGroupLimit(Partial) BEFORE the
    lang Exchange, pruning each input partition to k rows per lang
    (lossless — every global top-k row is a local top-k row), so the
    dominant language ships at most k * n_partitions rows into its
    sort no matter the corpus size. NULL semantics:
    ASC over the nullable priority uses asc_nulls_last on the Spark
    side (the repo's DuckDB null-order convention); NULL lang forms
    its own reservoir on both engines."""
    documents = catalog.load(spark, sf_dir, "documents")
    return reservoir_sample(documents)


def reservoir_sample(documents: DataFrame) -> DataFrame:
    """Operator body over any documents-shaped frame, so tests can
    drive it on replicated corpora (see llm_reservoir_sample)."""
    from pyspark.sql import Window

    h31 = F.pmod(
        F.pmod(F.col("doc_id"), F.lit(_MOD31)) * F.lit(_HASH_A),
        F.lit(_MOD31),
    )
    weight = F.greatest(F.coalesce(F.col("n_chars"), F.lit(0)), F.lit(1))
    pri = documents.select(
        "lang",
        "doc_id",
        (h31 * F.lit(1_000_000)).alias("_scaled"),
        weight.alias("_w"),
    ).select(
        "lang",
        "doc_id",
        F.expr("_scaled DIV _w").alias("priority"),
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("priority").asc_nulls_last(), F.col("doc_id").asc_nulls_last()
    )
    return (
        pri.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _RESERVOIR_K)
        .select("lang", "doc_id", "priority", "rn")
    )
