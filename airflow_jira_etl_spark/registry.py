"""Query registry — the implementation contract from SURVEY.md §2B.

Every named query registers itself here via the ``@query`` decorator:
a Spark callable ``(spark, sf_dir) -> DataFrame`` plus (when the
semantics are SQL-expressible) an equivalent ANSI-SQL oracle string for
DuckDB. ``__spark_entry__.py`` simply re-exports these dicts.

Convention (driver contract): column names must match EXACTLY between
the Spark result and the oracle SQL — alias every computed column on
both sides. Float-computed columns are rounded to 4 dp on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` as query ``name`` with an optional DuckDB oracle.

    Oracles are drift-proofed at registration: TPC-H table references
    are routed through contract-typed CTEs (``oracle_norm.drift_proof``)
    so the DuckDB side stays type-stable under fixture regeneration,
    mirroring what ``catalog.conform`` already guarantees on the Spark
    side. No-op on today's fixtures; tests/test_tpch_drift_sweep.py is
    the behavioral gate."""
    from airflow_jira_etl_spark.oracle_norm import drift_proof

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = drift_proof(oracle)
        return fn

    return deco


# A budget-capped external sweep records the first ~50 queries in
# registration order.  To keep every query's differential evidence fresh,
# the sweep order is explicit and least-recently-checked-first, decoupled
# from module import order.  Round-15 derivation (base order mechanical
# via tools/sweep_advisor over CORRECTNESS_r*.json; r14 was 50/50 green,
# the eighth consecutive fully-green driver round — no red rows, no
# never-checked queries, no new registrations this round; evidence
# tiers now r12:50, r13:50, r14:50).  The 50-slot window:
#   slots 1-50: the full r12-evidence tier (50, alphabetical) — the
#     oldest remaining rows, and EXACTLY window-sized.  No room for
#     anything else: a new registered query would displace an r12 row
#     and leave it stale past three rounds, so round 15 registers
#     NOTHING (the registry holds flat at 150).
# STRUCTURAL NOTE FOR ROUND 16 (written r15 so no future round
# rediscovers this at registration time): after the r15 sweep consumes
# the r12 tier, the oldest tier is r13 — ALSO exactly 50 rows, so r16
# has zero free slots too.  Registry growth stays frozen until either
# (a) a redundant beyond-survey query is retired to shrink a tier, or
# (b) the driver window grows.  New capability work in r15/r16 must
# take non-query shapes: operator-level code paths (e.g. the
# banded-Bloom degradation path is an operator parameter with property
# tests and a probe, NOT a registration), sources/sinks, or drift-armor
# axes.
# Code-recency notes (round 15, the advisor cannot see code changes;
# none displace an r12 row because each change is value-neutral on the
# driver fixtures and pinned by tests):
# - llm_decontaminate_bloom (r14-fresh): gained a bands=N parameter
#   (default 1 = the r14 single-bitset build, bit-identical output;
#   pinned by tests/test_bloom_banding.py), so no promotion.
# - llm_dedup_paragraph (r13-fresh): ADVICE-r14 guard-shape change
#   only (abs() → explicit range compare so INT64_MIN raises the
#   contract message, not an ANSI abs overflow) — error-path-only,
#   in-range outputs unchanged (tests/test_paragraph_dedup.py), so
#   no promotion.
# tests/test_sweep_priority.py pins the invariants.
SWEEP_PRIORITY: list[str] = [
    # r12-evidence tier (all 50, alphabetical) — the full r15 window
    "agg_mode_per_group",
    "agg_percentile_cont",
    "agg_salted_skew",
    "cdc_latest_per_key",
    "filter_conjunctive",
    "fn_timestamp_parse",
    "join_asof_latest",
    "join_asof_tolerance",
    "join_bnl_range_bands",
    "join_bucketed_colocated",
    "join_dpp_partitioned",
    "llm_containment_pairs",
    "llm_corpus_clean_pipeline",
    "llm_dedup_clusters",
    "llm_dedup_minhash",
    "llm_dedup_ngram_jaccard",
    "llm_dedup_semantic_clusters",
    "llm_embed_centroids",
    "llm_embed_knn_assign",
    "llm_fingerprint_rolling",
    "llm_pii_scrub",
    "llm_quality_entropy",
    "llm_sim_ivf_topk",
    "llm_sim_lsh_topk",
    "llm_sim_pairs_threshold",
    "llm_sim_topk",
    "mm_sample_frames",
    "mv_incremental_refresh",
    "project_rename_map",
    "report_funnel_steps",
    "report_large_volume_customers",
    "report_promo_revenue",
    "report_retention_cohorts",
    "report_sales_opportunity",
    "report_supplier_share",
    "report_waiting_suppliers",
    "scan_corrupt_quarantine",
    "scan_jsonl",
    "scan_schema_evolution",
    "sink_scd2_apply",
    "sink_sorted_write",
    "sink_time_travel",
    "source_paged_union",
    "stream_stream_interval_join",
    "stream_tumbling_topk",
    "ts_gapfill_locf",
    "win_consecutive_runs",
    "win_running_distinct",
    "win_running_sum",
    "win_sessionize_gaps",
    # ---- 50-slot window boundary ----
    # r13-evidence tier (50, alphabetical) — the expected r16 window,
    # also exactly 50 (see the structural note above); the r14-evidenced
    # queries (freshest driver rows) fall to the implicit
    # registration-order tail below the explicit list
    "agg_unpivot",
    "filter_exists_subquery",
    "filter_not_exists_subquery",
    "filter_scalar_subquery",
    "fn_array_suite",
    "fn_bitwise_suite",
    "fn_conditional_suite",
    "fn_date_suite",
    "fn_hash_suite",
    "fn_map_json_suite",
    "fn_math_suite",
    "fn_string_suite",
    "fn_time_of_day",
    "llm_corpus_sample",
    "llm_dedup_exact",
    "llm_dedup_paragraph",
    "llm_dedup_simhash",
    "llm_lang_id",
    "llm_stratified_sample",
    "llm_text_quality",
    "llm_text_stats",
    "llm_text_tokens",
    "llm_token_count_bpe",
    "llm_train_val_test_split",
    "mm_decode_features",
    "mm_resize_batch",
    "report_monthly_growth",
    "report_returned_items",
    "report_shipping_priority",
    "scan_csv",
    "scan_parquet",
    "set_except",
    "set_intersect",
    "set_union_distinct",
    "sink_create_table",
    "sink_upsert",
    "sort_limit_topk",
    "stream_dedup_keys",
    "stream_foreachbatch_upsert",
    "stream_session_window",
    "stream_sliding_avg",
    "stream_stateful_profile",
    "stream_static_enrich",
    "stream_tumbling_count",
    "stream_watermark_late",
    "udaf_grouped_agg",
    "udf_pandas_vectorized",
    "udf_python_scalar",
    "udtf_explode_kv",
    "win_lag_lead",
]


def load_all_queries() -> None:
    """Import every query module, then apply the explicit sweep order."""
    # Imports are deferred so `import airflow_jira_etl_spark` stays cheap.
    from airflow_jira_etl_spark.queries import (  # noqa: F401
        scalar_functions,
        reports,
        sampling,
        streaming_queries,
        timeofday_queries,
        llm_ops,
        llm_extras,
        flagship,
        scans,
        projections,
        joins,
        aggregations,
        windows,
        sorts_sets,
        matview,
        cdc,
        embedding_ops,
    )

    missing = [n for n in SWEEP_PRIORITY if n not in QUERIES]
    if missing:  # typo guard — priority must reference real queries
        raise ValueError(f"SWEEP_PRIORITY names not registered: {missing}")
    prio = set(SWEEP_PRIORITY)
    ordered = SWEEP_PRIORITY + [n for n in QUERIES if n not in prio]
    for d in (QUERIES, ORACLES):
        tail = {n: d[n] for n in ordered if n in d}
        d.clear()
        d.update(tail)
