"""Connected components over duplicate-pair edges — dedup clustering.

The last step of dedup at scale: MinHash/LSH emits PAIRS, but the
deliverable is CLUSTERS (each near-duplicate group keeps one canonical
document). Transitive closure needs connected components; the
DataFrame-iterative form is label propagation to the minimum id:

    label(v) ← min(label(v), min over neighbors(label(u)))

iterated to fixpoint, ACCELERATED by pointer jumping (component ←
label(component) after every propagation step — the path-halving trick
from the PRAM/large-star literature), so a component of diameter d
closes in O(log d) rounds, not O(d). Each round is three narrow
shuffles (edges ⋈ labels, a min-aggregate per vertex, labels ⋈ labels)
over scalar keys; superseded label generations are unpersisted and the
lineage is truncated by localCheckpoint every third round.

This is the second iterative-algorithm exemplar in the engine (with
operators/ivf.py) — convergence-checked with a single count per
iteration, the standard driver-side loop pattern for fixpoints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from airflow_jira_etl_spark.checkpoint import release_local_checkpoint

# propagation + pointer jumping roughly doubles each label's reach per
# round, so 50 rounds cover component diameters past 2^50 — far beyond
# any physical graph; the cap exists only to bound a logic bug, and
# EXHAUSTING it raises rather than silently returning split components
MAX_ITERS = 50

# Edge sets below this collect to the driver for union-find — the same
# size rule as a broadcast join's small side. Dup-pair edges are a tiny
# fraction of any corpus (they only exist where near-duplicates exist),
# so in practice most dedup runs take this path; the distributed loop
# is the correctness rail for adversarial corpora. Measured at the
# cutover (PLANS.md, "components SMALL_EDGE_LIMIT boundary"): a
# limit-sized collect peaks at ~91 MB driver heap (~0.45 MB per 1k
# edges), and the local[32] wall crossover sits near 100k — the limit
# stays above it because local mode gives the distributed fixpoint
# free scheduling (the one cost a real cluster multiplies per round),
# while the driver path's collect + Python union-find costs the same
# everywhere.
SMALL_EDGE_LIMIT = 200_000


def connected_components(pairs: DataFrame, max_iters: int = MAX_ITERS) -> DataFrame:
    """(id1, id2) undirected edges → (id, component) with component =
    min id reachable. Deterministic for any edge order.

    Adaptive execution: small edge sets (≤ SMALL_EDGE_LIMIT, checked
    with one count) run union-find on the driver — a fixpoint of tiny
    distributed rounds is pure scheduling overhead when the edges fit
    in memory. Larger graphs run the distributed label-propagation +
    pointer-jumping loop under scoped shuffle partitions."""
    spark = pairs.sparkSession
    from airflow_jira_etl_spark.session import scoped_conf

    # NULL edge ids fail LOUDLY here, the same contract as the merge
    # operators' key guard: without it the two paths diverge on one
    # defect — the driver union-find crashes with a bare TypeError
    # ('<' unsupported between NoneType and int) while the distributed
    # loop silently emits a NULL-component row that dedup_clusters
    # coalesces into a phantom singleton. Inline when/raise_error:
    # zero extra jobs, fires on whichever path first executes.
    def _guard(c: str):
        return (
            F.when(
                F.col(c).isNull(),
                F.raise_error(
                    F.lit(
                        f"NULL {c} in connected_components edge input — "
                        f"edge endpoints must be non-null (an upstream "
                        f"pair generator leaked an unkeyed row)"
                    )
                ),
            )
            .otherwise(F.col(c))
            .alias(c)
        )

    # narrow (id1, id2) cached once: the size probe and whichever path
    # wins both read it without recomputing the (expensive) upstream
    # pair generation
    edges = pairs.select(_guard("id1"), _guard("id2")).distinct().cache()
    try:
        n_edges = edges.count()
        if n_edges <= SMALL_EDGE_LIMIT:
            return _union_find_local(spark, pairs, edges)
        # shuffle width scales with the edge count (~100k edges per
        # reducer, capped at the cluster's task width): a fixed small
        # number would funnel a billion-edge graph's per-round joins
        # through a handful of spilling straggler tasks, while the
        # session default (sized for fact scans) over-schedules the
        # just-past-the-limit graphs that dominate in practice
        width = min(
            spark.sparkContext.defaultParallelism,
            max(8, n_edges // 100_000),
        )
        with scoped_conf(spark, "spark.sql.shuffle.partitions", str(width)):
            return _connected_components(edges, max_iters)
    finally:
        edges.unpersist()


def _union_find_local(spark, pairs: DataFrame, edges: DataFrame) -> DataFrame:
    """Driver-side union-find with path compression over a collected
    small edge list; result is re-distributed as a DataFrame with the
    caller's id type."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    ids = set()
    for r in edges.collect():
        ids.add(r.id1)
        ids.add(r.id2)
        ra, rb = find(r.id1), find(r.id2)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    rows = [(i, find(i)) for i in sorted(ids)]
    id_type = pairs.schema["id1"].dataType
    schema = StructType(
        [StructField("id", id_type), StructField("component", id_type)]
    )
    # broadcast-hinted: this path is SIZE-GATED (≤ SMALL_EDGE_LIMIT
    # edges → ≤ 2·limit label rows, the same order as a broadcast join's
    # small side), but the planner only sees an estimate-less local
    # relation and picked a SortMergeJoin for dedup_clusters' label
    # re-attach — shuffling and sorting the FULL id table against a
    # driver-sized frame. The hint removes that exchange; the
    # distributed path's (unbounded) labels stay unhinted.
    return F.broadcast(spark.createDataFrame(rows, schema))


def _connected_components(pairs: DataFrame, max_iters: int) -> DataFrame:
    edges = (
        pairs.select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
        .union(pairs.select(F.col("id2").alias("src"), F.col("id1").alias("dst")))
        .distinct()
        .cache()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .cache()
    )
    prev_ckpt: DataFrame | None = None
    new_labels: DataFrame | None = None
    converged = False
    try:
        for it in range(max_iters):
            # (1) min-label propagation along edges
            neighbor_min = (
                edges.join(labels, edges.dst == labels.id)
                .groupBy("src")
                .agg(F.min("component").alias("nbr_component"))
            )
            stepped = labels.join(
                neighbor_min, labels.id == neighbor_min.src, "left"
            ).select(
                "id",
                F.least(
                    F.col("component"), F.coalesce("nbr_component", "component")
                ).alias("component"),
            )
            # (2) pointer jump: component ← label(component). Labels point at
            # vertex ids whose own label is never larger, so one jump halves
            # the remaining path — propagation + jumping converges in
            # O(log diameter) rounds instead of O(diameter).
            ptr = stepped.select(
                F.col("id").alias("cid"), F.col("component").alias("ccomp")
            )
            jumped = (
                stepped.join(ptr, stepped.component == ptr.cid, "left")
                .select("id", F.coalesce("ccomp", "component").alias("component"))
            )
            # hygiene: truncate the growing lineage every 3rd round
            # (localCheckpoint materializes to executor storage), cache the
            # others. unpersist() releases CACHED generations immediately;
            # for checkpointed ones it is a no-op — those are released
            # below via release_local_checkpoint once a NEWER checkpoint
            # has materialized (every frame built after checkpoint C(k+1)
            # derives from it, never from C(k), so C(k) has no live
            # consumer from that point). Without the explicit release the
            # superseded generations wait for the ContextCleaner's
            # periodic GC — at billion-vertex scale several full label
            # frames of executor storage instead of one.
            is_ckpt_round = (it + 1) % 3 == 0
            if is_ckpt_round:
                new_labels = jumped.localCheckpoint()
            else:
                new_labels = jumped.cache()
            # full count, deliberately NOT limit(1): the count must drain
            # every partition so new_labels is fully cached before the old
            # generation is unpersisted — an early-exiting probe would leave
            # later rounds recomputing uncached partitions through joins
            # reaching back to the last checkpoint
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "id")
                .where(F.col("n.component") != F.col("o.component"))
                .count()
            )
            labels.unpersist()
            if is_ckpt_round:
                # the new checkpoint is materialized (eager) and the
                # cached generations between the two checkpoints are
                # already superseded/unpersisted, so the PREVIOUS
                # checkpoint's blocks have no remaining consumer; the
                # frame being RETURNED is never released (it is always
                # the newest generation)
                if prev_ckpt is not None:
                    release_local_checkpoint(prev_ckpt)
                prev_ckpt = new_labels
            labels = new_labels
            if changed == 0:
                converged = True
                break
        if not converged:
            # silently returning non-converged labels would emit SPLIT
            # clusters (multiple canonical rows per true duplicate group)
            raise RuntimeError(
                f"connected_components did not converge in {max_iters} "
                f"rounds — with pointer jumping that implies a component "
                f"diameter past 2^{max_iters} or a bug; raise max_iters "
                f"explicitly if the former is real"
            )
    except BaseException:
        # failure-path hygiene (non-convergence raise or any mid-round
        # error): drop the last cached label generation and the last
        # checkpoint's blocks — a long-lived driver retrying dedup
        # sweeps would otherwise accumulate a full label set per failed
        # run. The doubled-edges cache is released by the finally.
        # new_labels covers the window where the just-materialized
        # generation exists but has not yet been assigned to labels /
        # prev_ckpt (an error during the `changed` count): on a
        # checkpoint round it is EAGERLY materialized at creation, so
        # skipping it here would leak a full label frame of executor
        # storage until the ContextCleaner's periodic GC.
        if new_labels is not None and new_labels is not labels:
            new_labels.unpersist()
            release_local_checkpoint(new_labels)
        labels.unpersist()
        if prev_ckpt is not None and prev_ckpt is not labels:
            release_local_checkpoint(prev_ckpt)
        if labels is not None:
            release_local_checkpoint(labels)  # no-op on cached gens
        raise
    finally:
        edges.unpersist()
    return labels


def dedup_clusters(pairs: DataFrame, all_ids: DataFrame, id_col: str) -> DataFrame:
    """Full dedup decision: every id → (component, is_canonical).
    Ids with no duplicate edge are their own singleton component; the
    canonical member of each component is its minimum id.

    NULL ids are dropped (docs-drift armor): an identity-less row
    can neither be labeled nor be a label, and the family convention
    (paragraph dedup, decontaminate's %-split) is that NULL-keyed docs
    fall out of key-driven operators on both engines. Ids are assumed
    UNIQUE (they are the table's key) — the operator does not pay a
    dedup shuffle to re-derive what the catalog contract guarantees."""
    comp = connected_components(pairs)
    return (
        all_ids.select(F.col(id_col).alias("id"))
        .where(F.col("id").isNotNull())
        .join(comp, "id", "left")
        .select(
            "id",
            F.coalesce("component", F.col("id")).alias("component"),
        )
        .withColumn("is_canonical", F.col("id") == F.col("component"))
    )
