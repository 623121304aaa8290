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
   searches (meta-file keyed, like the streaming page cache).
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

import json
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
    path: str,
    tag: str = "",
) -> tuple[DataFrame, DataFrame]:
    """Materialize the IVF index at ``path``: vector assignments written
    ``partitionBy("cluster_id")`` (one directory per cluster) plus the
    centroid table. A meta file keys the layout on (k, iters, tag) so
    repeated calls — every search, every bench run — reuse the files
    instead of re-training; it also records the per-cluster row counts
    OF THE FILES AS WRITTEN (counted from the read-back, not the
    in-memory frame), so a search can verify the probed directories'
    integrity without ever scanning the unprobed ones. Returns
    (indexed, centroids) READ BACK from disk, so downstream cluster
    filters prune directories.

    Builders are serialized across PROCESSES with an exclusive flock
    (same hazard class as the streaming page cache). Data dirs are
    VERSIONED by the key hash (``v_<hash>/vectors``): a rebuild under a
    NEW key (e.g. a regenerated fixture changed the tag) writes a fresh
    version dir and GCs everything except the new version and the one
    the previous meta referenced — so a reader mid-scan on the old
    version (warm readers never take the lock, by design) survives one
    rebuild instead of having its files deleted under it."""
    # meta_layout 4: versioned data dirs (above); the meta also carries
    # the quantizer itself (k centroid vectors), an anchor row (the
    # min-vec_id vector) and the read-back schemas — driver-resident
    # index assets in the FAISS sense, so a cache-hit open/search needs
    # ZERO Spark jobs (no centroid collect, no probe head, no
    # footer-inference job) before the pruned scan itself
    key = {"k": k_clusters, "iters": N_ITERS, "tag": tag, "meta_layout": 4}
    meta_path = os.path.join(path, "_IVF_META.json")
    vdir = _version_dir(key)
    vectors_dir = os.path.join(path, vdir, "vectors")
    centroids_dir = os.path.join(path, vdir, "centroids")

    def _meta_current() -> bool:
        try:
            with open(meta_path) as f:
                return json.load(f).get("key") == key
        except (FileNotFoundError, json.JSONDecodeError, AttributeError):
            return False

    if not _meta_current():  # fast path: no lock traffic in steady state
        import fcntl

        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, ".lock"), "w") as lk:
            fcntl.flock(lk, fcntl.LOCK_EX)
            if not _meta_current():  # still stale: we are the builder
                _build_index_files(
                    spark, emb, k_clusters, key, path, meta_path,
                    vectors_dir, centroids_dir,
                )
    # read back under the schemas RECORDED AT BUILD TIME: without an
    # explicit schema every warm open pays a distributed footer-
    # inference job before the first real scan
    meta = read_meta(path)
    from pyspark.sql import types as T

    return (
        spark.read.schema(T.StructType.fromJson(meta["vectors_schema"])).parquet(
            vectors_dir
        ),
        spark.read.schema(
            T.StructType.fromJson(meta["centroids_schema"])
        ).parquet(centroids_dir),
    )


def _version_dir(key: dict) -> str:
    """Deterministic version-dir name for an index key."""
    import hashlib

    return "v_" + hashlib.sha1(
        json.dumps(key, sort_keys=True).encode()
    ).hexdigest()[:10]


def _build_index_files(
    spark: SparkSession,
    emb: DataFrame,
    k_clusters: int,
    key: dict,
    path: str,
    meta_path: str,
    vectors_dir: str,
    centroids_dir: str,
) -> None:
    """The rebuild body of build_index — caller holds the flock."""
    import shutil

    from airflow_jira_etl_spark.session import scoped_conf

    if emb.head(1) == []:
        raise ValueError(
            "embedding frame is empty — cannot build an IVF index "
            "(truncated fixture or an over-restrictive filter?)"
        )
    # the PREVIOUS meta's version dir gets one generation of grace (a
    # reader that resolved it pre-rebuild keeps scanning valid files)
    try:
        keep_prev = read_meta(path).get("version_dir")
    except (FileNotFoundError, json.JSONDecodeError):
        keep_prev = None
    # small-key shuffles throughout (k clusters × dims scalars);
    # repartition by cluster so each directory gets ONE file
    with scoped_conf(
        spark, "spark.sql.shuffle.partitions", str(max(8, k_clusters))
    ):
        emb_c = emb.cache()  # read the source once across Lloyd's passes
        centroids = train_quantizer(emb_c, k_clusters).cache()
        assign_clusters(emb_c, centroids).repartition(
            k_clusters, "cluster_id"
        ).write.mode("overwrite").partitionBy("cluster_id").parquet(vectors_dir)
        centroids.write.mode("overwrite").parquet(centroids_dir)
        centroids.unpersist()
        emb_c.unpersist()
    # every meta stat is computed from the READ-BACK files, not the
    # in-memory frames: the meta must describe the bytes a later
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
    # asc_nulls_last: callers own the NULL-id filter (r14 convention),
    # but the anchor must never resolve to an id int() cannot take
    arow = (
        on_disk.orderBy(F.col("vec_id").asc_nulls_last())
        .select("vec_id", "embedding")
        .head()
    )
    anchor = {
        "vec_id": int(arow["vec_id"]),
        "embedding": [float(x) for x in arow["embedding"]],
    }
    # ATOMIC publish (temp + rename): the warm path reads this file
    # OUTSIDE the flock (that is the whole point of the versioned
    # layout — zero coordination on a cache hit), so a
    # truncate-in-place write here would expose concurrent warm opens
    # to a partial file
    tmp_path = meta_path + ".tmp"
    this_v = _version_dir(key)
    with open(tmp_path, "w") as f:
        json.dump(
            {
                "key": key,
                "version_dir": this_v,
                "counts": counts,
                "centroids": cent,
                "anchor": anchor,
                "vectors_schema": on_disk.schema.jsonValue(),
                "centroids_schema": cent_disk.schema.jsonValue(),
            },
            f,
        )
    os.replace(tmp_path, meta_path)
    # GC superseded versions, sparing the one the previous meta named;
    # also drop the pre-versioning flat layout (meta_layout <= 3)
    for d in os.listdir(path):
        if (d.startswith("v_") and d not in (this_v, keep_prev)) or d in (
            "vectors",
            "centroids",
        ):
            shutil.rmtree(os.path.join(path, d), ignore_errors=True)


def read_meta(path: str) -> dict:
    """Load an index's meta file: ``key`` (layout identity), ``counts``
    (per-cluster row counts of the files as written), ``centroids``
    (the quantizer — sorted [cluster_id, vector] pairs) and ``anchor``
    (the min-vec_id row). Centroids/anchor are driver-resident index
    assets: searches and self-checks read them here instead of running
    Spark jobs against the centroid table."""
    with open(os.path.join(path, "_IVF_META.json")) as f:
        return json.load(f)


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
    index_path: str | None = None,
    index_tag: str = "",
) -> DataFrame:
    """End-to-end IVF search for one probe vector. With ``index_path``
    the index is materialized/reused on disk (the scale path — the
    cluster filter prunes partition directories); without it the index
    is computed inline (self-contained, for ad-hoc frames)."""
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
    if index_path is not None:
        indexed, centroids = build_index(spark, emb, k_clusters, index_path, index_tag)
    else:
        # collapse the trained quantizer to a k-row LITERAL frame (the
        # same driver-resident treatment build_index's meta gives it):
        # Lloyd's deep iterative plan runs exactly once at the collect,
        # and downstream actions re-read k in-plan rows instead of
        # either recomputing the training (uncached) or leaking one
        # orphaned cached frame per ad-hoc call (a .cache() nothing
        # ever unpersisted — a long-lived driver accumulated one per
        # search until the ContextCleaner's periodic GC)
        trained = train_quantizer(emb, k_clusters)
        centroids = spark.createDataFrame(trained.collect(), trained.schema)
        indexed = assign_clusters(emb, centroids)
    return search_index(indexed, centroids, probe, probe_id, top_k, n_probe)
