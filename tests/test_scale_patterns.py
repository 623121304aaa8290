"""Scale-pattern tests: salted aggregation correctness on skewed data,
and bucketed co-located joins eliminating the shuffle."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from airflow_jira_etl_spark import catalog
from airflow_jira_etl_spark.operators.salt import salted_agg


def test_salted_agg_matches_plain_agg_on_skew(spark):
    # 90% of rows share one hot key
    df = spark.range(0, 50_000).select(
        F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(F.col("id") % 100).alias("k"),
        (F.col("id") % 7).cast("double").alias("v"),
    )
    plain = {
        (r.k): (r.total, r.n)
        for r in df.groupBy("k")
        .agg(F.sum("v").alias("total"), F.count("*").alias("n"))
        .collect()
    }
    salted = {
        (r.k): (r.total, r.n)
        for r in salted_agg(
            df,
            ["k"],
            {
                "total": (F.sum("v"), F.sum("total")),
                "n": (F.count("*"), F.sum("n")),
            },
        ).collect()
    }
    assert salted == plain


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """bucketBy co-location: a join between two tables bucketed on the
    join key must plan WITHOUT an Exchange on either side — the shuffle
    happened once at write time, every subsequent join rides it."""
    # warehouse dir is a static conf; put the database in tmp_path via
    # an explicit LOCATION instead
    spark.sql(f"CREATE DATABASE IF NOT EXISTS buck LOCATION '{tmp_path}/wh'")
    lineitem = catalog.load(spark, sf_dir, "lineitem")
    orders = catalog.load(spark, sf_dir, "orders")
    (
        lineitem.write.bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .mode("overwrite")
        .saveAsTable("buck.lineitem_b")
    )
    (
        orders.write.bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .mode("overwrite")
        .saveAsTable("buck.orders_b")
    )
    li = spark.table("buck.lineitem_b")
    o = spark.table("buck.orders_b")
    # at this SF the planner would rather broadcast (cheaper than the
    # bucketed SMJ); disable broadcast to expose the big-table path the
    # buckets exist for — at 100 TB neither side is broadcastable
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = li.join(o, li.l_orderkey == o.o_orderkey)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:2000]
        assert "SortMergeJoin" in plan
        expected = (
            lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey).count()
        )
        assert joined.count() == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_plan_shapes_hold(spark, sf_dir):
    """Plan-shape regression guards: pushdown, top-k lowering, and the
    single-shuffle MERGE must not silently degrade."""
    from airflow_jira_etl_spark import registry

    registry.load_all_queries()

    def fplan(name):
        df = registry.QUERIES[name](spark, sf_dir)
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )

    scan = fplan("scan_filter_prune")
    assert "GreaterThanOrEqual(l_shipdate" in scan  # predicate at the reader
    assert "l_tax" not in scan  # column pruning held

    topk = fplan("sort_limit_topk")
    assert "TakeOrderedAndProject" in topk

    wtopk = fplan("win_topk_per_group")
    assert "WindowGroupLimit" in wtopk  # rank-limit pushdown

    upsert_plan = fplan("sink_upsert")
    # exactly one hash-partitioning exchange on the merge key
    assert upsert_plan.count("hashpartitioning(o_orderkey") == 1
    # ...and the rn=1 filter is limit-pushed into the window
    assert "WindowGroupLimit" in upsert_plan


def test_partitioned_write_prunes_partitions(spark, sf_dir):
    """The partitioned sink's read-back filter must be a PartitionFilter
    (directory pruning), not a data filter."""
    from airflow_jira_etl_spark import registry

    registry.load_all_queries()
    df = registry.QUERIES["sink_partitioned_write"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "event_type" in plan.split("PartitionFilters:")[1][:200]

def test_ivf_materialized_index_prunes_cluster_dirs(spark, sf_dir, scratch_root):
    """The materialized IVF index must (a) answer identically to the
    inline path and (b) serve searches via PartitionFilters on
    cluster_id — a directory-pruned scan, not a full scan + filter."""
    from airflow_jira_etl_spark.operators.ivf import build_index, ivf_topk, search_index

    emb = catalog.load(spark, sf_dir, "embeddings")
    inline = [(r.vec_id, r.cos_sim) for r in ivf_topk(spark, emb, 0, 8).collect()]
    indexed, centroids, _ = build_index(spark, emb, 8, sf_dir, "t")
    probe = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("p"))
    hits = search_index(indexed, centroids, probe, 0)
    assert [(r.vec_id, r.cos_sim) for r in hits.collect()] == inline

    plan = hits._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    seg = plan.split("PartitionFilters:")[1][:200]
    assert "cluster_id" in seg and " IN " in seg


def test_ivf_meta_carries_quantizer_and_anchor(spark, sf_dir, scratch_root):
    """The index info must hold driver-resident copies of the quantizer
    (centroid vectors) and the min-vec_id anchor row, BIT-EXACT with the
    read-back parquet — the warm search path trusts the info instead of
    launching collect()/head() jobs, so any build/info divergence would
    silently corrupt the self-verification contract."""
    from airflow_jira_etl_spark.operators.ivf import build_index

    emb = catalog.load(spark, sf_dir, "embeddings")
    indexed, centroids, info = build_index(spark, emb, 8, sf_dir, "t")
    disk_cent = sorted(
        (int(r["cluster_id"]), [float(x) for x in r["centroid"]])
        for r in centroids.collect()
    )
    assert [(int(c), [float(x) for x in v]) for c, v in info["centroids"]] == disk_cent
    arow = indexed.orderBy("vec_id").select("vec_id", "embedding").head()
    assert int(info["anchor"]["vec_id"]) == int(arow["vec_id"])
    assert [float(x) for x in info["anchor"]["embedding"]] == [
        float(x) for x in arow["embedding"]
    ]
    # and a warm open (info read back from the JSON on disk) round-trips
    # those doubles exactly
    assert build_index(spark, emb, 8, sf_dir, "t")[2] == info


def test_ivf_warm_search_runs_no_bookkeeping_jobs(spark, sf_dir):
    """A warm-index run of the registered IVF query must spend Spark
    jobs ONLY on the search/comparator action itself (AQE materializes
    its shuffle stages as ~4 jobs on this plan) — the pre-r09 shape
    added 3 bookkeeping jobs per run (centroid collect, probe head,
    footer schema inference), which at scale is 3 extra cluster
    round-trips per search. Bound: ≤5 jobs total."""
    from airflow_jira_etl_spark import registry

    registry.load_all_queries()
    fn = registry.QUERIES["llm_sim_ivf_topk"]
    fn(spark, sf_dir).collect()  # ensure the index is built and warm
    sc = spark.sparkContext
    sc.setJobGroup("ivf-warm-probe", "count jobs in a warm IVF search")
    try:
        fn(spark, sf_dir).collect()
    finally:
        sc.setJobGroup(None, None)
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(
        "ivf-warm-probe"
    )
    assert len(jobs) <= 5, f"warm IVF search ran {len(jobs)} jobs: {jobs}"


def test_warm_artifact_hits_run_no_jobs(spark, sf_dir):
    """Once built, the event pages, the bucketed-join tables and the DPP
    table are served from scratch.source_cache without a Spark job: the
    page call and both queries' construction run none."""
    from airflow_jira_etl_spark import registry
    from airflow_jira_etl_spark.streaming.source import write_event_pages

    registry.load_all_queries()
    names = ("join_bucketed_colocated", "join_dpp_partitioned")
    write_event_pages(spark, sf_dir, n_pages=4)
    for name in names:
        registry.QUERIES[name](spark, sf_dir)
    sc = spark.sparkContext
    sc.setJobGroup("warm-artifacts", "warm source_cache hits")
    try:
        write_event_pages(spark, sf_dir, n_pages=4)
        for name in names:
            registry.QUERIES[name](spark, sf_dir)
    finally:
        sc.setJobGroup(None, None)
    assert list(sc.statusTracker().getJobIdsForGroup("warm-artifacts")) == []


def test_decontaminate_broadcasts_eval_grams(spark, sf_dir):
    """The eval gram set must broadcast — a sort-merge join here would
    shuffle every training gram."""
    from airflow_jira_etl_spark import registry

    registry.load_all_queries()
    df = registry.QUERIES["llm_decontaminate"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_tfidf_uses_partial_aggregation(spark, sf_dir):
    """Both tf and df aggregates must be partial->final (map-side
    combine), and the corpus-size scalar must broadcast."""
    from airflow_jira_etl_spark import registry

    registry.load_all_queries()
    df = registry.QUERIES["llm_tfidf_top_terms"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 4  # 2 aggs x partial+final
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_subqueries_decorrelate_to_semi_anti_joins(spark, sf_dir):
    """EXISTS / NOT EXISTS must lower to LeftSemi / LeftAnti joins —
    never a per-row subquery or a cartesian."""
    from airflow_jira_etl_spark import registry

    registry.load_all_queries()
    ex = (
        registry.QUERIES["filter_exists_subquery"](spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "LeftSemi" in ex and "CartesianProduct" not in ex
    nex = (
        registry.QUERIES["filter_not_exists_subquery"](spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "LeftAnti" in nex and "CartesianProduct" not in nex


def test_sessionize_single_exchange(spark, sf_dir):
    """Gaps-and-islands sessionization must cost exactly one shuffle:
    the lag pass, the cumulative-sum pass and the final groupBy all
    share the user_id partitioning."""
    from airflow_jira_etl_spark import registry

    registry.load_all_queries()
    df = registry.QUERIES["win_sessionize_gaps"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Sort ") == 1, plan


def test_funnel_never_shuffles_fact_table(spark, sf_dir):
    """Funnel steps join tiny per-user frontiers back onto the events
    scan as broadcasts; the fact table itself must never be
    hash-exchanged (every Exchange in the plan is a BroadcastExchange
    or carries only frontier/aggregate rows, so no exchange may sit
    directly above the events file scan)."""
    from airflow_jira_etl_spark import registry

    registry.load_all_queries()
    df = registry.QUERIES["report_funnel_steps"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 4, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_sorted_write_stats_enable_rowgroup_skipping(spark, sf_dir):
    """The sort-clustered layout's footer statistics must actually
    prune: row groups whose [min, max] user_id interval overlaps the
    query range [10, 19] must hold well under half the rows — an
    unsorted layout leaves every row group overlapping every range and
    this assertion fails."""
    import pyarrow.parquet as pq

    from airflow_jira_etl_spark import registry

    registry.load_all_queries()
    registry.QUERIES["sink_sorted_write"](spark, sf_dir).count()
    from airflow_jira_etl_spark.scratch import session_scratch

    out_dir = session_scratch(
        "events_sorted", os.path.basename(os.path.normpath(sf_dir))
    )
    total = overlapping = 0
    for f in os.listdir(out_dir):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(out_dir, f)).metadata
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            idx = {
                g.column(i).path_in_schema: i for i in range(g.num_columns)
            }
            st = g.column(idx["user_id"]).statistics
            total += g.num_rows
            if st.min <= 19 and st.max >= 10:
                overlapping += g.num_rows
    assert total > 0
    assert overlapping < total / 2, (overlapping, total)


def test_dpp_injects_runtime_partition_filter(spark, sf_dir):
    """The partitioned-fact ⋈ filtered-dim join must carry a
    dynamicpruning subquery on the fact scan — static partition
    filters are absent by construction, so without DPP the scan reads
    every partition."""
    from airflow_jira_etl_spark import registry

    registry.load_all_queries()
    df = registry.QUERIES["join_dpp_partitioned"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_range_band_join_broadcasts_nested_loop(spark, sf_dir):
    """A no-equi-key range join must lower to BroadcastNestedLoopJoin
    with the band table broadcast — never a cartesian shuffle of the
    fact side."""
    from airflow_jira_etl_spark import registry

    registry.load_all_queries()
    df = registry.QUERIES["join_bnl_range_bands"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan, plan[:1500]
    assert "CartesianProduct" not in plan


def test_waiting_suppliers_single_fact_scan(spark, sf_dir):
    """The Q21 shape must read the fact table ONCE: both correlated
    predicates (other-supplier exists / no-other-late-supplier) are
    derived from window collect_sets over the l_orderkey partitioning
    the lineitem⋈orders join already established — exactly one lineitem
    scan, exactly one fact-side hashpartitioning exchange feeding the
    window, and no cartesian. (The textbook decorrelated form re-scans
    and re-shuffles lineitem twice more; that lowering is still guarded
    for the simpler EXISTS queries above.)"""
    from airflow_jira_etl_spark import registry

    registry.load_all_queries()
    plan = (
        registry.QUERIES["report_waiting_suppliers"](spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("lineitem.parquet") == 1, plan
    assert "Window" in plan, plan
    assert plan.count("hashpartitioning(l_orderkey") == 1, plan
    assert "CartesianProduct" not in plan, plan


def test_knn_assign_broadcasts_centroids_no_window(spark, sf_dir):
    """Nearest-centroid assignment must broadcast the k centroids (the
    scoring expand never shuffles vectors) and fold the arg-max with a
    HASH aggregate over the primitive packed key — no window, and no
    SortAggregate anywhere (a struct-typed max silently degrades to
    Sort + SortAggregate over the full n×k expand)."""
    from airflow_jira_etl_spark import registry

    registry.load_all_queries()
    plan = (
        registry.QUERIES["llm_embed_knn_assign"](spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "Window" not in plan, plan
    assert "HashAggregate" in plan, plan
    assert "SortAggregate" not in plan, plan


def test_registry_scale_sweep_builds_consistent_fixture(spark, sf_dir, tmp_path):
    """build_scaled doubles every row-scaling table with disjoint keys
    (shared orders stride keeps replica lineitems referencing their
    replica's orders) and symlinks the dimensions unchanged."""
    import os

    from airflow_jira_etl_spark import catalog
    from airflow_jira_etl_spark.tools.registry_scale_sweep import build_scaled

    out = str(tmp_path / "scaled")
    os.makedirs(out)
    build_scaled(spark, sf_dir, 2, out)

    for t, key in (
        ("orders", "o_orderkey"),
        ("lineitem", "l_orderkey"),
        ("events", "event_id"),
        ("documents", "doc_id"),
        ("embeddings", "vec_id"),
    ):
        base = catalog.load(spark, sf_dir, t)
        big = catalog.load(spark, out, t)
        assert big.count() == 2 * base.count(), t
        # key domains stay disjoint across replicas (stride is
        # data-derived) — distinct keys double even for the non-unique
        # l_orderkey (many lines per order)
        assert (
            big.select(key).distinct().count()
            == 2 * base.select(key).distinct().count()
        ), f"{t}.{key} collided"
    # replica lineitems join their replica's orders: the join count
    # scales exactly 2x
    b_join = (
        catalog.load(spark, sf_dir, "lineitem")
        .join(
            catalog.load(spark, sf_dir, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .count()
    )
    s_join = (
        catalog.load(spark, out, "lineitem")
        .join(
            catalog.load(spark, out, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .count()
    )
    assert s_join == 2 * b_join
    for t in ("region", "nation", "customer", "supplier", "part"):
        assert os.path.islink(os.path.join(out, f"{t}.parquet")), t
