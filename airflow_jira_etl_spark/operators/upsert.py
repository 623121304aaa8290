"""Keyed upsert (last-writer-wins MERGE) as a distributed operator.

The reference upserts one record at a time with dialect-specific SQL
(``INSERT ... ON CONFLICT DO UPDATE`` / ``ON DUPLICATE KEY UPDATE`` /
``MERGE INTO`` — ``/root/reference/dags/jira/db_ops.py:29-43,56-70,83-100``),
relying on two invariants (SURVEY.md §3.4):

* **last-writer-wins** — later duplicates overwrite earlier ones within
  a batch (per-record sequential execute);
* **idempotent replay** — applying the same batch twice ≡ once, which
  is what makes the retry/resume loop safe.

Spark has no per-row upsert (and per-row round-trips are the
anti-pattern the reference itself suffers from — 1 INSERT per row).
The distributed equivalent: union base + updates with a source
priority, then keep exactly one row per key with a window
``row_number() = 1`` ordered by (priority desc, batch ordinal desc).
One shuffle on the key; AQE coalesces small partitions, but its skew
SPLITTING is join-only (it cannot split a window partition — the same
limitation operators/ranking.py and operators/salt.py design around),
so a single key carrying millions of duplicate rows (e.g. replayed
pages of one hot entity) lands in ONE window task. Correctness
requires exactly one partition per key, so salting cannot help here;
the mitigation is to PRE-REDUCE such a batch per key before merging
(a groupBy max_by((cols), (ordinal)) partial-aggregates map-side, so
the hot key arrives at the shuffle already collapsed to one row per
map task). Both invariants hold by construction: replays add rows
that lose/tie deterministically.

For a transactional table format (Delta/Iceberg) this operator lowers
to ``MERGE INTO``; on plain parquet the caller persists via
atomic-directory-swap (see sinks/parquet_upsert.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_PRIORITY = "__src_priority"
_ORD = "__batch_ord"
_RN = "__rn"
_HELPER_COLS = (_PRIORITY, _ORD, _RN)


def _check_merge_inputs(
    base: DataFrame, updates: DataFrame, keys: list[str]
) -> None:
    """Shared input guards for the merge operators.

    Key columns must exist on BOTH sides: the merge cannot resolve
    rows without its key, and the error should name the side that
    lacks it rather than surface as an opaque union mismatch.
    Helper-column collisions must raise too: withColumn would REPLACE
    a same-named input column and drop() would then delete the user's
    data from the output (the ranking module's _check_names class)."""
    for side, df in (("base", base), ("updates", updates)):
        missing = [k for k in keys if k not in df.columns]
        if missing:
            raise ValueError(
                f"key column(s) {missing} absent from {side} — a merge "
                f"cannot resolve rows without its key"
            )
        clash = [c for c in _HELPER_COLS if c in df.columns]
        if clash:
            raise ValueError(
                f"column(s) {clash} in {side} collide with the merge's "
                f"internal helper columns — rename them before merging"
            )


_NULL_KEY_MESSAGES = {
    # applied to each side SEPARATELY (before the union) so the error
    # names the side that is actually poisoned: a NULL key in the
    # stored base is a pre-existing-data problem with a different fix
    # (rewrite the table) than a bad incoming batch (fix the producer)
    # — one shared message misdiagnoses the former as the latter and
    # leaves the operator retrying a batch that can never succeed.
    "base": (
        "NULL key {k!r} in the merge's BASE (stored) side — the stored "
        "table already contains NULL-key rows (written before this "
        "guard, or by a bucketer that hashes NULLs to a valid bucket). "
        "Rewrite the stored table filtering NULL-key rows out before "
        "merging; retrying the batch cannot succeed."
    ),
    "updates": (
        "NULL key {k!r} in the merge's UPDATES batch — upsert keys "
        "must be non-null (NULL keys silently collapse to one "
        "arbitrary row). Fix or filter the incoming batch."
    ),
}


def _null_key_guard(col_name: str, side: str = "updates"):
    """Wrap a key column so a NULL key fails LOUDLY at execution
    instead of silently collapsing: window partitioning groups all
    NULLs together and row_number()==1 would keep one arbitrary row —
    data loss indistinguishable from a normal merge. Evaluated inline
    on the column itself (zero extra jobs; an assert_true side column
    would be pruned away by the optimizer). ``side`` selects the
    diagnosis message (see _NULL_KEY_MESSAGES)."""
    return F.when(
        F.col(col_name).isNull(),
        F.raise_error(F.lit(_NULL_KEY_MESSAGES[side].format(k=col_name))),
    ).otherwise(F.col(col_name))


def null_key_violation(exc: Exception, keys: list[str]) -> str | None:
    """The _null_key_guard message ``exc`` carries, or None when ``exc``
    is any other failure. Lets a caller that runs the merge inside a
    write report the guard's USER_RAISED_EXCEPTION as the key-contract
    violation it is, without swallowing unrelated errors."""
    text = str(exc)
    if "USER_RAISED_EXCEPTION" not in text:
        return None
    for k in keys:
        for msg in _NULL_KEY_MESSAGES.values():
            if msg.format(k=k) in text:
                return msg.format(k=k)
    return None


def upsert(
    base: DataFrame,
    updates: DataFrame,
    key: str | list[str],
    ordinal_col: str | None = None,
    cluster_cols: list[str] | None = None,
    single_partition: bool = False,
) -> DataFrame:
    """Last-writer-wins merge of ``updates`` into ``base`` on ``key``.

    ``updates`` rows win over ``base`` rows; within ``updates``, later
    rows win, mirroring the reference's sequential per-record execution
    order. "Later" is defined by ``ordinal_col`` when given (an
    explicit ordering column the caller owns — page offset, event id,
    ingest sequence); otherwise by ``monotonically_increasing_id()``,
    which tracks the CURRENT partition layout — that matches source
    order only if ``updates`` was not shuffled/repartitioned upstream.
    Callers that need reference-faithful sequential semantics on a
    shuffled batch must pass ``ordinal_col``.

    ``cluster_cols``: optional columns FUNCTIONALLY DEPENDENT on the
    key (e.g. a bucket id computed from it) prepended to the window
    partitioning. Semantically a no-op — every key still resolves to
    one row — but it makes the merge's single shuffle also CLUSTER the
    output by those columns, so a downstream ``partitionBy`` write
    needs no second shuffle.

    ``single_partition``: coalesce the base ∪ updates union to ONE
    partition before the window, which then needs no shuffle (a single
    partition already clusters every key) — the merge runs as one task.
    Only for inputs small enough for one task; its one caller is
    ``ParquetUpsertTable.apply`` on a one-bucket table, whose whole
    state is one file by construction. The ordinal is still computed
    below the union, so batch order is unaffected. The inputs should be
    JVM-resident (a parquet scan, a ``LocalRelation``, every pipeline
    batch): the one task computes every input partition in turn, so a
    Python-RDD batch (``createDataFrame`` of a row list) runs its
    partitions' Python workers one after another instead of in parallel.

    Both sides must carry the same column set (fixed-DDL sinks): a
    mismatch raises.
    """
    keys = [key] if isinstance(key, str) else list(key)
    _check_merge_inputs(base, updates, keys)
    base_tagged = base.withColumn(_PRIORITY, F.lit(0)).withColumn(
        _ORD, F.lit(0).cast("long")
    )
    ord_expr = (
        F.col(ordinal_col).cast("long")
        if ordinal_col is not None
        else F.monotonically_increasing_id()
    )
    upd_tagged = updates.withColumn(_PRIORITY, F.lit(1)).withColumn(_ORD, ord_expr)
    w = Window.partitionBy(*(cluster_cols or []), *keys).orderBy(
        F.col(_PRIORITY).desc(), F.col(_ORD).desc()
    )
    for k in keys:  # NULL keys fail loudly at execution, never collapse
        base_tagged = base_tagged.withColumn(k, _null_key_guard(k, "base"))
        upd_tagged = upd_tagged.withColumn(k, _null_key_guard(k, "updates"))
    merged = base_tagged.unionByName(upd_tagged)
    if single_partition:
        merged = merged.coalesce(1)
    return (
        merged.withColumn(_RN, F.row_number().over(w))
        .where(F.col(_RN) == 1)
        .drop(_PRIORITY, _ORD, _RN)
    )


_COMBINE_FNS = {"sum": F.sum, "min": F.min, "max": F.max}


def merge_aggregate(
    base: DataFrame,
    updates: DataFrame,
    key: str | list[str],
    combine: dict[str, str],
    cluster_cols: list[str] | None = None,
    null_keys: str = "reject",
) -> DataFrame:
    """Combining MERGE — ``WHEN MATCHED THEN UPDATE SET c = f(old, new)``
    with an associative-commutative ``f`` per column (``sum``/``min``/
    ``max``): the incremental-materialized-view refresh operator. Where
    :func:`upsert` answers "what is this key's LATEST row", this answers
    "what is this key's RUNNING aggregate" — new partial aggregates fold
    into the stored ones, so refreshing an MV over an append stream costs
    one groupBy over (stored state ∪ batch partials), never a rescan of
    the underlying fact table.

    Every non-key column must appear in ``combine`` — a column without a
    combiner has no well-defined merged value. Unlike :func:`upsert`,
    replaying a batch is NOT idempotent (sums double-count); callers need
    an exactly-once batch boundary (e.g. foreachBatch checkpointing or a
    recorded page cursor) — same contract as any incremental MV.
    ``cluster_cols`` as in :func:`upsert`: key-derived columns prepended
    to the grouping so the merge's one shuffle also clusters the output
    for a partitioned write. Both sides must carry the same column set,
    as in :func:`upsert`.

    ``null_keys``: ``"reject"`` (default) raises on a NULL key — right
    for ENTITY keys, where NULL is corruption and the groupBy would
    silently merge unrelated rows. ``"group"`` treats NULL as a domain
    value: the keys of an incremental MV are GROUP BY columns, and SQL
    aggregation has a NULL group (one fact row with a NULL dimension is
    legal data) — rejecting it makes the MV unable to represent a group
    every plain GROUP BY produces. Spark's groupBy already groups NULL
    keys together deterministically, which for a combining merge IS the
    correct fold.
    """
    keys = [key] if isinstance(key, str) else list(key)
    group = [*(cluster_cols or []), *keys]
    all_cols = set(base.columns) | set(updates.columns)
    grouped = set(combine) & set(group)
    if grouped:
        raise ValueError(
            f"combine entries {sorted(grouped)} name key/cluster columns "
            f"— grouping columns cannot also be aggregated (the output "
            f"would carry duplicate column names)"
        )
    absent = set(combine) - all_cols
    if absent:
        raise ValueError(
            f"combine entries {sorted(absent)} name columns absent from "
            f"both frames"
        )
    missing = all_cols - set(group) - set(combine)
    if missing:
        raise ValueError(
            f"columns {sorted(missing)} have no combiner: every non-key "
            f"column needs an entry in combine (sum/min/max)"
        )
    bad = {c: f for c, f in combine.items() if f not in _COMBINE_FNS}
    if bad:
        raise ValueError(
            f"unsupported combiners {bad}: pick from {sorted(_COMBINE_FNS)}"
        )
    if null_keys not in ("reject", "group"):
        raise ValueError(
            f"null_keys must be 'reject' or 'group', got {null_keys!r}"
        )
    _check_merge_inputs(base, updates, keys)
    if null_keys == "reject":
        for k in keys:  # NULL keys fail loudly at execution
            base = base.withColumn(k, _null_key_guard(k, "base"))
            updates = updates.withColumn(k, _null_key_guard(k, "updates"))
    union = base.unionByName(updates)
    aggs = [_COMBINE_FNS[f](c).alias(c) for c, f in combine.items()]
    return union.groupBy(*group).agg(*aggs)
