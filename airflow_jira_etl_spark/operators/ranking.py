"""Distributed ranking — total-order row numbers and per-group running
sums without a single-task window.

An un-partitioned ``Window.orderBy(...)`` is correct but serializes the
ENTIRE input into one task (Spark warns: "No Partition Defined for
Window operation"). Fine for output-sized frames (a months table);
a scale-killer on fact tables. The module has two operators, both on
the same range-tagged frame (``_range_tag``): ``global_row_number``
computes the global ``row_number`` and ``grouped_running_sum`` a
per-group prefix sum over low-cardinality groups. Both run in two
distributed phases, the classic parallel ranking scheme (TeraSort-style
range partition + prefix-sum offsets):

1. **Range shuffle**: ``repartitionByRange`` on the ordering
   expressions, then ``sortWithinPartitions`` — partition *i* holds a
   contiguous, internally-sorted slice of the global order. The
   explicit partition count opts the exchange out of AQE coalescing,
   so partition ids are stable across the two passes.
2. **Offsets**: per-partition row counts (one k-row aggregate, k =
   #partitions) become an exclusive prefix sum, broadcast back as an
   array literal indexed by ``spark_partition_id``. The local index
   within a partition is read from ``monotonically_increasing_id``'s
   documented layout (partition id in the upper 31 bits, consecutive
   record number in the lower 33), so assigning ranks adds ZERO
   further shuffles and no Window node at all.

The tagged frame is materialized ONCE between the counts pass and the
output pass via ``localCheckpoint`` (lineage truncation), not a plain
``persist``: both passes must observe the identical partitioning, and
``repartitionByRange`` re-SAMPLES its boundaries on every plan
re-execution (the sampler's per-partition seeds incorporate the RDD id,
which differs per execution), so any recompute — cache eviction,
``clearCache()`` between the operator call and the caller's action,
executor loss at cluster scale — would land rows in different partitions
than the counts pass measured and silently corrupt every rank. A
persisted frame still RECOMPUTES on block loss; a locally-checkpointed
frame cannot (its lineage is cut at the materialized blocks), so the
failure mode becomes a loud block-not-found error instead of wrong
answers (with persist, a mid-operator clearCache yields NULL rank cells
and wrong ranks; tests/test_ranking_property.py pins both operators
against that clearCache). The blocks free when the returned frame is
garbage-collected (ContextCleaner), not via clearCache. The blocks are
stored MEMORY_AND_DISK, so a tagged frame larger than executor memory
spills rather than fails; at cluster scale rank off a pre-sorted
bucketed table rather than checkpointing 100 TB — and on clusters where
executor loss is routine, prefer rerunning the query on failure over
any scheme that recomputes a sampled shuffle.

With a total (tie-free) ordering — callers append a unique key as the
last sort expression — ``row_number == rank == dense_rank``, and every
order statistic derives from (rn, n) as pure expressions: see
``ntile_expr`` / ``percent_rank_expr`` / ``cume_dist_expr``.

Derives from the survey's ranked-report surface (SURVEY.md §2B
win_ntile_percent, sort_multi_key); the reference itself has no
ranking operator (its Airflow DAGs end at keyed upserts —
``/root/reference/dags/jira/db_ops.py``), so the scale design here is
Spark-first by construction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

_LOCAL_IDX_MASK = (1 << 33) - 1
_HELPER_COLS = (
    "_gr_pid",
    "_gr_idx",
    "_gr_off",
    "_gr_cnt",
    "_gr_val",
    "_gr_lsum",
)


def _check_names(df: DataFrame, out_names: tuple[str, ...]) -> None:
    """Helper/output column names must not collide with input columns,
    with each other, or (outputs) with the helper names — any of those
    would produce ambiguous references, silently shadowed data, or an
    output column eaten by the final helper drop; fail loudly instead."""
    clash = (set(_HELPER_COLS) | set(out_names)) & set(df.columns)
    if clash:
        raise ValueError(
            f"ranking: input columns collide with helper/output names: "
            f"{sorted(clash)} — rename them or pass different rn_col/n_col"
        )
    bad_out = set(out_names) & set(_HELPER_COLS)
    if bad_out:
        raise ValueError(
            f"ranking: output names {sorted(bad_out)} are reserved helper "
            f"names — pick different output column names"
        )
    if len(set(out_names)) != len(out_names):
        raise ValueError(
            f"ranking: output column names must be distinct, got {out_names}"
        )


def _group_key(row, group_cols: list[str]) -> tuple:
    """Driver-side dict key for a group: NaN float keys are mapped to a
    sentinel because NaN != NaN makes them unfindable in a Python dict,
    while Spark's groupBy/range-sort/eqNullSafe all treat NaN as ONE
    group — without this, a NaN group split across range partitions
    would silently restart its prefix at every partition."""
    return tuple(
        ("__nan__",) if isinstance(v, float) and v != v else v
        for v in (row[g] for g in group_cols)
    )


def _range_tag(
    df: DataFrame,
    sort_exprs: list[Column],
    n_parts: int,
    extra: dict[str, Column] | None = None,
) -> DataFrame:
    """Phase 1 shared by every two-phase form: range shuffle on the
    full sort key, sort within partitions, tag each row with its
    partition id and partition-local index (monotonically_increasing_id
    layout: pid in the upper 31 bits, consecutive record number in the
    lower 33), then localCheckpoint — the bookkeeping and output passes
    must observe ONE materialization of the sampled range partitioning,
    and lineage truncation is what guarantees it: a recompute of the
    range exchange re-samples different boundaries (module docstring),
    so recompute must be impossible, not merely unlikely. eager=False
    defers the materialization to the bookkeeping action the caller
    runs next (no extra job)."""
    ranged = df.repartitionByRange(n_parts, *sort_exprs).sortWithinPartitions(
        *sort_exprs
    )
    cols = [
        F.spark_partition_id().alias("_gr_pid"),
        F.monotonically_increasing_id()
        .bitwiseAND(F.lit(_LOCAL_IDX_MASK))
        .alias("_gr_idx"),
    ] + [c.alias(n) for n, c in (extra or {}).items()]
    return ranged.select("*", *cols).localCheckpoint(
        eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK
    )


def _null_safe_meta_join(
    tagged: DataFrame, meta: DataFrame, group_cols: list[str]
):
    """Join condition back onto the broadcast meta rows: plain equality
    on the partition id, NULL-SAFE equality on the group keys (SQL
    groups NULL keys together — a plain equi-join would silently DROP
    null-group rows; Spark's <=> also matches NaN to NaN, consistent
    with _group_key)."""
    cond = tagged["_gr_pid"] == meta["_gr_pid"]
    for g in group_cols:
        cond = cond & tagged[g].eqNullSafe(meta[g])
    return cond


def global_row_number(
    df: DataFrame,
    order_cols: list[Column],
    rn_col: str = "rn",
    num_partitions: int | None = None,
) -> tuple[DataFrame, int]:
    """Attach a 1-based global row number over a total ordering.

    ``order_cols`` are Column expressions, optionally with sort order
    (``.desc_nulls_first()`` etc.); they must define a UNIQUE total
    order (append a key column) or ranks across ties are partition-
    placement-dependent. Returns ``(frame, total_count)`` — the count
    rides along for free from the offsets pass, so callers computing
    order statistics (ntile / percent_rank / cume_dist) don't pay a
    second ``count()`` job.
    """
    _check_names(df, (rn_col,))
    spark = df.sparkSession
    n_parts = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    tagged = _range_tag(df, list(order_cols), n_parts)
    counts = dict(
        tagged.groupBy("_gr_pid").count().collect()
    )  # k-bounded: one row per shuffle partition
    offsets: list[int] = [0] * (max(counts, default=-1) + 1)
    cum = 0
    for pid in sorted(counts):
        offsets[pid] = cum
        cum += counts[pid]
    # element_at on a literal array: the broadcast-side of a prefix-sum
    # join without the join (k longs ship inside the plan itself)
    off = F.element_at(
        F.array(*[F.lit(o) for o in (offsets or [0])]),
        F.col("_gr_pid") + 1,
    )
    out = tagged.withColumn(
        rn_col, (off + F.col("_gr_idx") + 1).cast("long")
    ).drop("_gr_pid", "_gr_idx")
    return out, cum


def grouped_running_sum(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[Column],
    value: Column,
    sum_col: str = "rsum",
    total_col: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-group running sum (``sum(value) OVER (PARTITION BY group
    ORDER BY order ROWS UNBOUNDED PRECEDING..CURRENT ROW)``) for
    LOW-cardinality groups — the two-phase ranking scheme generalized
    from counts to prefix SUMS.

    A ``Window.partitionBy(group)`` running sum caps parallelism at
    |groups| (a per-day sweep over years of data runs in |days| tasks,
    a per-flag sum in 3). Here the range shuffle keys on
    ``(group, order...)`` so one group spans MANY partitions; the
    bookkeeping pass aggregates one SUM row per (partition, group) —
    bounded by ``n_parts × |groups|`` — whose per-group exclusive
    prefix sums broadcast back as offsets, and the within-partition
    running sum runs under a window partitioned by the
    HIGH-cardinality ``(partition, group)`` composite, so every stage
    parallelizes to the full cluster width.

    Semantics are the ROWS frame under *some* linearization of the
    given ordering: rows tied on the full ``(group, order...)`` key may
    land either side of a range-partition boundary, so per-row values
    on ties are placement-dependent — exactly as they are for any
    ROWS-frame window over a non-total order. Pass a unique final
    order column for per-row determinism, or consume only
    tie-permutation-invariant aggregates of the result (a sweep-line's
    per-day ``max(live)`` qualifies: ties there carry equal summands).

    NULL summands follow SQL window-sum semantics (sum over an
    all-NULL prefix is NULL, otherwise NULLs are skipped): the offset
    is NULL only when every earlier slice of the group is all-NULL,
    and the two parts combine with null-aware addition. The same
    lineage-truncating materialization (localCheckpoint) as the other
    phases applies (see module docstring): both passes must observe
    the ONE materialization of the sampled range partitioning, and a
    recompute must be impossible, not merely unlikely.
    """
    from pyspark.sql import types as T

    out_names = (sum_col,) + ((total_col,) if total_col else ())
    _check_names(df, out_names)
    spark = df.sparkSession
    n_parts = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    sort_exprs = [F.col(g) for g in group_cols] + list(order_cols)
    tagged = _range_tag(df, sort_exprs, n_parts, extra={"_gr_val": value})
    per_df = tagged.groupBy("_gr_pid", *group_cols).agg(
        F.sum("_gr_val").alias("_gr_cnt")
    )
    sum_type = per_df.schema["_gr_cnt"].dataType
    per = per_df.collect()  # bounded: one row per (partition, group)
    # per-group EXCLUSIVE prefix sum of the slice sums in pid order;
    # None tracks the all-NULL-so-far state so offset NULLity matches
    # window-sum semantics exactly. The accumulation runs in Python's
    # arbitrary precision: a prefix that exceeds int64 raises at
    # createDataFrame (LongType verification) where the partitioned
    # window would silently WRAP under non-ANSI mode — failing loudly
    # on overflow is the deliberate divergence.
    per.sort(key=lambda r: r["_gr_pid"])
    seen: dict[tuple, object] = {}
    meta_rows = []
    meta_keys = []
    for r in per:
        gkey = _group_key(r, group_cols)
        off = seen.get(gkey)
        meta_rows.append([r["_gr_pid"], *(r[g] for g in group_cols), off])
        meta_keys.append(gkey)
        s = r["_gr_cnt"]
        if s is not None:
            seen[gkey] = s if off is None else off + s
    meta_fields = (
        [T.StructField("_gr_pid", T.IntegerType())]
        + [tagged.schema[g] for g in group_cols]
        + [T.StructField("_gr_off", sum_type)]
    )
    if total_col:
        meta_fields.append(T.StructField(total_col, sum_type))
        for row, gkey in zip(meta_rows, meta_keys):
            row.append(seen.get(gkey))
    meta = spark.createDataFrame(
        [tuple(r) for r in meta_rows], T.StructType(meta_fields)
    )
    # high-cardinality (partition, group) window: the local running sum
    # re-sorts by the pre-shuffle local index, reconstructing the range
    # partition's order inside each hash partition
    w = (
        Window.partitionBy("_gr_pid", *group_cols)
        .orderBy("_gr_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = tagged.withColumn("_gr_lsum", F.sum("_gr_val").over(w))
    return (
        local.join(
            F.broadcast(meta), _null_safe_meta_join(local, meta, group_cols)
        )
        .drop(meta["_gr_pid"], *[meta[g] for g in group_cols])
        .withColumn(
            sum_col,
            F.when(
                F.col("_gr_off").isNull() & F.col("_gr_lsum").isNull(),
                F.lit(None),
            )
            .otherwise(
                F.coalesce(F.col("_gr_off"), F.lit(0))
                + F.coalesce(F.col("_gr_lsum"), F.lit(0))
            )
            .cast(sum_type),
        )
        .drop("_gr_pid", "_gr_idx", "_gr_val", "_gr_lsum", "_gr_off")
    )


def ntile_expr(rn: Column, n: int, buckets: int) -> Column:
    """SQL ``ntile(buckets)`` from a global row number: the first
    ``n % buckets`` buckets take ``n div buckets + 1`` rows, the rest
    ``n div buckets`` — identical fill rule to Spark/DuckDB."""
    base, extra = divmod(n, buckets)
    boundary = extra * (base + 1)
    big = ((rn - 1) / F.lit(base + 1)).cast("long") + 1
    if base == 0:
        # n < buckets: every row is its own bucket
        return rn
    small = F.lit(extra) + ((rn - boundary - 1) / F.lit(base)).cast("long") + 1
    return F.when(rn <= boundary, big).otherwise(small)


def percent_rank_expr(rn: Column, n: int) -> Column:
    """``percent_rank()`` under a unique total order: (rank-1)/(n-1)."""
    if n <= 1:
        return F.lit(0.0)
    return (rn - 1).cast("double") / F.lit(float(n - 1))


def cume_dist_expr(rn: Column, n: int) -> Column:
    """``cume_dist()`` under a unique total order: rows ≤ current are
    exactly rn."""
    return rn.cast("double") / F.lit(float(max(n, 1)))
