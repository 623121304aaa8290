"""IVF (inverted-file) approximate nearest neighbor: coarse k-means
quantizer + cluster-pruned search.

The second of the two standard ANN scale paths (the LSH-bucket variant
is queries/llm_extras.llm_sim_lsh_topk). Structure:

1. **Train** a coarse quantizer with a few Lloyd's iterations — the
   canonical ITERATIVE DataFrame workload: assign (broadcast centroids
   + per-vector argmax), re-center (posexplode → per-(cluster, position)
   average → reassemble). Nothing ever collects whole vector lists:
   the re-center shuffle carries (cluster, pos, partial avg) scalars,
   so cluster size is unbounded.
2. **Index**: every vector gets its nearest-centroid id and the
   assignments are MATERIALIZED ``partitionBy("cluster_id")`` — each
   cluster is a directory at rest, built once and reused across
   searches (a scratch.source_cache artifact, like the streaming page
   cache).
3. **Search**: score the probe against k centroids (k rows — tiny,
   driver-side by design), then scan only the ``n_probe`` nearest
   clusters. Because the index is partitioned by cluster_id the
   ``isin(probe_clusters)`` filter is a PartitionFilter — Spark prunes
   the other directories and never opens their files (asserted in
   tests/test_scale_patterns.py).

Determinism: centroids are seeded by ``vec_id % k`` (no RNG), Lloyd's
runs a FIXED number of iterations, ties break on cluster_id — same
result on every run/partitioning, which is what makes the operator
testable (rows-only; float scoring is engine-specific).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from airflow_jira_etl_spark.functions.rounding import fround
from airflow_jira_etl_spark.functions.similarity import cosine

N_ITERS = 2


def _recenter(assigned: DataFrame, vec_col: str) -> DataFrame:
    """(cluster_id, vectors) → (cluster_id, centroid) via element-wise
    mean; shuffles only (cluster, pos, sum, count) scalars."""
    ex = assigned.select(
        "cluster_id", F.posexplode(F.col(vec_col)).alias("pos", "x")
    )
    means = ex.groupBy("cluster_id", "pos").agg(F.avg("x").alias("m"))
    return means.groupBy("cluster_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s.m
        ).alias("centroid")
    )


def assign_clusters(
    emb: DataFrame, centroids: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Nearest-centroid assignment: broadcast the (tiny) centroid
    table, score every (vector, centroid) pair, keep the argmax with a
    deterministic tie-break."""
    scored = emb.crossJoin(F.broadcast(centroids)).withColumn(
        "__sim", cosine(F.col(vec_col), F.col("centroid"))
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("__sim").desc(), F.col("cluster_id")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn", "__sim", "centroid")
    )


def train_quantizer(
    emb: DataFrame, k: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Fixed-iteration Lloyd's. Returns (cluster_id, centroid)."""
    seeded = emb.withColumn("cluster_id", (F.col(id_col) % k).cast("int"))
    centroids = _recenter(seeded, vec_col)
    for _ in range(N_ITERS):
        assigned = assign_clusters(emb, centroids, id_col, vec_col)
        centroids = _recenter(assigned, vec_col)
    return centroids


def build_index(
    spark: SparkSession,
    emb: DataFrame,
    k_clusters: int,
    sf_dir: str,
    ident,
) -> tuple[DataFrame, DataFrame, dict]:
    """Materialize the IVF index of ``emb`` as a scratch.source_cache
    artifact of the fixture at ``sf_dir``: vector assignments written
    ``partitionBy("cluster_id")`` (one directory per cluster) plus the
    centroid table. ``ident`` is the caller's identity of ``emb`` (the
    source stamps of the tables it reads and its filters); the key adds
    (k, iters), so repeated calls — every search, every bench run —
    reuse the files instead of re-training. Returns (indexed,
    centroids, info), the frames READ BACK from disk so downstream
    cluster filters prune directories.

    ``info`` holds the driver-resident index assets in the FAISS sense,
    all computed from the files as written: ``counts`` (per-cluster row
    counts, so a search can verify the probed directories without
    scanning the unprobed ones), ``centroids`` (the quantizer — sorted
    [cluster_id, vector] pairs), ``anchor`` (the min-vec_id row) and
    the read-back schemas. A cache-hit open/search therefore needs ZERO
    Spark jobs (no centroid collect, no probe head, no footer-inference
    job) before the pruned scan itself."""
    from pyspark.sql import types as T

    from airflow_jira_etl_spark.scratch import source_cache

    key = {"k": k_clusters, "iters": N_ITERS, "source": ident}
    path, info = source_cache(
        "ivf_index",
        sf_dir,
        key,
        lambda out: _build_index_files(spark, emb, k_clusters, out),
    )
    # read back under the schemas RECORDED AT BUILD TIME: without an
    # explicit schema every warm open pays a distributed footer-
    # inference job before the first real scan
    return (
        spark.read.schema(T.StructType.fromJson(info["vectors_schema"])).parquet(
            os.path.join(path, "vectors")
        ),
        spark.read.schema(
            T.StructType.fromJson(info["centroids_schema"])
        ).parquet(os.path.join(path, "centroids")),
        info,
    )


def _build_index_files(
    spark: SparkSession, emb: DataFrame, k_clusters: int, path: str
) -> dict:
    """The build body of build_index: writes the index under ``path``
    and returns its info."""
    from airflow_jira_etl_spark.session import scoped_conf

    if emb.head(1) == []:
        raise ValueError(
            "embedding frame is empty — cannot build an IVF index "
            "(truncated fixture or an over-restrictive filter?)"
        )
    vectors_dir = os.path.join(path, "vectors")
    centroids_dir = os.path.join(path, "centroids")
    # small-key shuffles throughout (k clusters × dims scalars);
    # repartition by cluster so each directory gets ONE file
    with scoped_conf(
        spark, "spark.sql.shuffle.partitions", str(max(8, k_clusters))
    ):
        emb_c = emb.cache()  # read the source once across Lloyd's passes
        centroids = train_quantizer(emb_c, k_clusters).cache()
        assign_clusters(emb_c, centroids).repartition(
            k_clusters, "cluster_id"
        ).write.partitionBy("cluster_id").parquet(vectors_dir)
        centroids.write.parquet(centroids_dir)
        centroids.unpersist()
        emb_c.unpersist()
    # every info stat is computed from the READ-BACK files, not the
    # in-memory frames: the info must describe the bytes a later
    # session will scan, bit-for-bit (JSON round-trips doubles exactly)
    on_disk = spark.read.parquet(vectors_dir)
    counts = {
        str(r["cluster_id"]): r["n"]
        for r in on_disk.groupBy("cluster_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    cent_disk = spark.read.parquet(centroids_dir)
    cent = sorted(
        (int(r["cluster_id"]), [float(x) for x in r["centroid"]])
        for r in cent_disk.collect()
    )
    # asc_nulls_last: callers own the NULL-id filter (the NULL-key
    # convention), but the anchor must never resolve to an id int()
    # cannot take
    arow = (
        on_disk.orderBy(F.col("vec_id").asc_nulls_last())
        .select("vec_id", "embedding")
        .head()
    )
    return {
        "counts": counts,
        "centroids": cent,
        "anchor": {
            "vec_id": int(arow["vec_id"]),
            "embedding": [float(x) for x in arow["embedding"]],
        },
        "vectors_schema": on_disk.schema.jsonValue(),
        "centroids_schema": cent_disk.schema.jsonValue(),
    }


def rank_probe_clusters(
    centroids: DataFrame, probe: DataFrame, n_probe: int
) -> list:
    """Rank the k centroids against the probe and return the n_probe
    winning cluster ids (k tiny rows to the driver)."""
    return [
        r.cluster_id
        for r in centroids.crossJoin(F.broadcast(probe))
        .select("cluster_id", cosine(F.col("centroid"), F.col("p")).alias("s"))
        .orderBy(F.col("s").desc(), F.col("cluster_id"))
        .limit(n_probe)
        .collect()
    ]


def search_index(
    indexed: DataFrame,
    centroids: DataFrame,
    probe: DataFrame,
    probe_id: int,
    top_k: int = 10,
    n_probe: int = 2,
    probe_clusters: list | None = None,
) -> DataFrame:
    """Directory-pruned IVF search: rank k centroids against the probe,
    then scan only the n_probe winning cluster directories."""
    if probe_clusters is None:
        probe_clusters = rank_probe_clusters(centroids, probe, n_probe)
    return (
        indexed.where(F.col("cluster_id").isin(probe_clusters))
        .where(F.col("vec_id") != probe_id)
        .crossJoin(F.broadcast(probe))
        .select(
            "vec_id",
            F.col("cluster_id").cast("int").alias("cluster_id"),
            fround(cosine(F.col("embedding"), F.col("p"))).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(top_k)
    )


def ivf_topk(
    spark: SparkSession,
    emb: DataFrame,
    probe_id: int,
    k_clusters: int,
    top_k: int = 10,
    n_probe: int = 2,
) -> DataFrame:
    """End-to-end IVF search for one probe vector over an index computed
    inline (self-contained, for ad-hoc frames); the materialized,
    directory-pruned index is build_index + search_index."""
    probe = emb.where(F.col("vec_id") == probe_id).select(
        F.col("embedding").alias("p")
    )
    # take(1) both validates presence AND yields the probe row: an
    # absent probe id would otherwise return an EMPTY top-k —
    # indistinguishable from "no neighbors found", masking a typo'd or
    # stale id (the build path raises the same way on an empty
    # embedding frame). Rebuilding the one-row probe frame from the
    # fetched row means the guard job IS the probe scan — search_index
    # never re-reads the embeddings source for it (the previous
    # limit(1).count() guard paid that scan twice).
    probe_rows = probe.take(1)
    if not probe_rows:
        raise ValueError(
            f"probe vec_id {probe_id} not found in the embedding frame"
        )
    probe = spark.createDataFrame(probe_rows, probe.schema)
    # collapse the trained quantizer to a k-row LITERAL frame (the same
    # driver-resident treatment build_index's info gives it): Lloyd's
    # deep iterative plan runs exactly once at the collect, and
    # downstream actions re-read k in-plan rows instead of either
    # recomputing the training (uncached) or leaking one orphaned
    # cached frame per ad-hoc call (a .cache() nothing ever
    # unpersisted — a long-lived driver accumulated one per search
    # until the ContextCleaner's periodic GC)
    trained = train_quantizer(emb, k_clusters)
    centroids = spark.createDataFrame(trained.collect(), trained.schema)
    indexed = assign_clusters(emb, centroids)
    return search_index(indexed, centroids, probe, probe_id, top_k, n_probe)
