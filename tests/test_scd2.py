"""SCD2 merge edge paths the registered query's oracle can't isolate:
new-key insert, NULL-attribute diffs, history passthrough, and the
broadcast-join plan shape."""

from __future__ import annotations

import datetime
from functools import reduce

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from airflow_jira_etl_spark.operators.scd2 import VERSION_COLS, scd2_merge
from airflow_jira_etl_spark.operators.upsert import upsert
from airflow_jira_etl_spark.tools.replication import (
    key_stride,
    replicate_with_stride,
)

D = datetime.date

SCHEMA_DIM = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("seg", T.StringType()),
        T.StructField("valid_from", T.DateType()),
        T.StructField("valid_to", T.DateType()),
        T.StructField("is_current", T.BooleanType()),
    ]
)
SCHEMA_CH = T.StructType(
    [T.StructField("k", T.LongType()), T.StructField("seg", T.StringType())]
)


def _dim(spark, rows):
    return spark.createDataFrame(rows, SCHEMA_DIM)


def _ch(spark, rows):
    return spark.createDataFrame(rows, SCHEMA_CH)


def test_scd2_change_closes_and_opens(spark):
    dim = _dim(spark, [(1, "A", D(2024, 1, 1), None, True)])
    ch = _ch(spark, [(1, "B")])
    out = scd2_merge(dim, ch, "k", ["seg"], "2024-06-01").collect()
    rows = {(r.seg, r.is_current): r for r in out}
    assert len(out) == 2
    closed = rows[("A", False)]
    assert closed.valid_from == D(2024, 1, 1)
    assert closed.valid_to == D(2024, 6, 1)
    opened = rows[("B", True)]
    assert opened.valid_from == D(2024, 6, 1)
    assert opened.valid_to is None


def test_scd2_noop_resend_and_untouched_pass_through(spark):
    dim = _dim(
        spark,
        [
            (1, "A", D(2024, 1, 1), None, True),  # resent unchanged
            (2, "B", D(2024, 1, 1), None, True),  # untouched
        ],
    )
    ch = _ch(spark, [(1, "A")])
    out = scd2_merge(dim, ch, "k", ["seg"], "2024-06-01").collect()
    assert len(out) == 2
    assert all(r.is_current and r.valid_from == D(2024, 1, 1) for r in out)


def test_scd2_new_key_inserted_as_current(spark):
    dim = _dim(spark, [(1, "A", D(2024, 1, 1), None, True)])
    ch = _ch(spark, [(9, "Z")])
    out = {r.k: r for r in scd2_merge(dim, ch, "k", ["seg"], "2024-06-01").collect()}
    assert out[9].seg == "Z"
    assert out[9].is_current and out[9].valid_from == D(2024, 6, 1)
    assert out[1].seg == "A" and out[1].is_current


def test_scd2_null_attr_diff_is_null_safe(spark):
    # NULL -> 'X' is a change; NULL -> NULL is a no-op. A non-null-safe
    # comparison would treat both as "no diff" (NULL predicate).
    dim = _dim(
        spark,
        [
            (1, None, D(2024, 1, 1), None, True),
            (2, None, D(2024, 1, 1), None, True),
        ],
    )
    ch = _ch(spark, [(1, "X"), (2, None)])
    out = scd2_merge(dim, ch, "k", ["seg"], "2024-06-01")
    k1 = out.where("k = 1").collect()
    k2 = out.where("k = 2").collect()
    assert len(k1) == 2  # closed + opened
    assert len(k2) == 1 and k2[0].is_current  # no-op


def test_scd2_history_rows_untouched(spark):
    dim = _dim(
        spark,
        [
            (1, "OLD", D(2023, 1, 1), D(2024, 1, 1), False),
            (1, "A", D(2024, 1, 1), None, True),
        ],
    )
    ch = _ch(spark, [(1, "B")])
    out = scd2_merge(dim, ch, "k", ["seg"], "2024-06-01").collect()
    assert len(out) == 3
    old = [r for r in out if r.seg == "OLD"][0]
    assert old.valid_to == D(2024, 1, 1) and not old.is_current


def test_scd2_change_batch_broadcasts(spark):
    """The dimension side must not shuffle: the change batch joins in
    as a BroadcastHashJoin (the 100 TB contract in operators/scd2.py)."""
    dim = _dim(spark, [(i, "A", D(2024, 1, 1), None, True) for i in range(100)])
    ch = _ch(spark, [(1, "B")])
    plan = (
        scd2_merge(dim, ch, "k", ["seg"], "2024-06-01")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_scd2_duplicate_keys_in_batch_resolve_last_writer(spark):
    """Duplicate keys WITHIN a change batch must resolve to ONE change
    before the merge: un-deduped, the full-outer join fans the current
    dim row out per duplicate — duplicated closed rows plus multiple
    is_current=true versions, compounding on every later merge."""
    from airflow_jira_etl_spark.operators.scd2 import scd2_merge

    dim = spark.createDataFrame(
        [(42, "old", "2020-01-01", None, True)],
        "k long, attr string, valid_from string, valid_to string,"
        " is_current boolean",
    ).selectExpr(
        "k", "attr", "CAST(valid_from AS DATE) valid_from",
        "CAST(valid_to AS DATE) valid_to", "is_current",
    )
    changes = spark.createDataFrame(
        [(42, "mid", 0), (42, "new", 1)], "k long, attr string, ord long"
    )
    out = scd2_merge(
        dim, changes.select("k", "attr", "ord"), "k", ["attr"],
        "2024-06-01", ordinal_col="ord",
    ).drop("ord")
    rows = sorted(
        (r.attr, r.is_current) for r in out.where(F.col("k") == 42).collect()
    )
    # exactly one closed old version + one current row carrying the
    # LAST duplicate's attributes
    assert rows == [("new", True), ("old", False)]
    cur = out.where(F.col("is_current") & (F.col("k") == 42)).collect()
    assert len(cur) == 1 and cur[0].attr == "new"


def test_scd2_null_is_current_rows_survive_as_history(spark):
    """A dim row with is_current=NULL must not vanish: a plain boolean
    filter pair excludes it from BOTH the current and history splits
    (NULL is not true; ~NULL is NULL). The null-safe split keeps it as
    history."""
    from airflow_jira_etl_spark.operators.scd2 import scd2_merge

    dim = spark.createDataFrame(
        [
            (1, "a", "2020-01-01", None, True),
            (2, "b", "2020-01-01", "2021-01-01", None),  # NULL flag
        ],
        "k long, attr string, valid_from string, valid_to string,"
        " is_current boolean",
    ).selectExpr(
        "k", "attr", "CAST(valid_from AS DATE) valid_from",
        "CAST(valid_to AS DATE) valid_to", "is_current",
    )
    changes = spark.createDataFrame([(1, "a2")], "k long, attr string")
    out = scd2_merge(dim, changes, "k", ["attr"], "2024-06-01")
    ks = sorted(r.k for r in out.collect())
    assert ks == [1, 1, 2]  # closed + opened for k=1, k=2 SURVIVES


def test_scd2_plan_never_shuffles_the_dimension(spark):
    """The module's core scale claim, pinned on the PHYSICAL plan: a
    broadcast hint on a FULL OUTER join is silently ignored (Spark's
    BroadcastHashJoin does not support full outer), degrading to a
    SortMergeJoin that hash-exchanges and sorts BOTH sides — the exact
    dimension shuffle the operator exists to avoid. The merge is built
    from broadcast-supported join shapes (left outer / semi / anti,
    all BuildRight), so the plan must carry NO SortMergeJoin and NO
    hash exchange anywhere."""
    from airflow_jira_etl_spark.operators.scd2 import scd2_merge

    dim = spark.range(10_000).select(
        F.col("id").alias("k"),
        F.col("id").cast("string").alias("attr"),
        F.lit("2020-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    changes = spark.range(20).select(
        F.col("id").alias("k"), F.lit("new").alias("attr")
    )
    out = scd2_merge(dim, changes, "k", ["attr"], "2024-06-01")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    # the batch-dedup window exchanges the 20-row BATCH (hash on k over
    # the change rows) — fine; the dimension side must show none
    assert plan.count("Exchange hashpartitioning") <= 1


def test_scd2_rejects_empty_attrs(spark):
    """attrs=[] has nothing to diff — no change could ever close or
    open a version. The old code crashed in reduce() with an opaque
    TypeError; the contract error must name the requirement."""
    dim = spark.createDataFrame(
        [(1, "2020-01-01", None, True)],
        "k long, valid_from string, valid_to string, is_current boolean",
    )
    changes = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError, match="attrs must be non-empty"):
        scd2_merge(dim, changes, "k", [], "2024-06-01")


def test_scd2_effective_binds_parsed_date_not_raw_string(spark):
    """Python >= 3.11 date.fromisoformat also accepts the compact
    ('20240601') and ISO week-date forms that Spark's string->date
    cast does NOT parse — under non-ANSI configs those cast to NULL,
    exactly the silent valid_from/valid_to corruption the guard
    exists to stop. The merge must bind the PARSED value, so every
    format Python accepts yields the correct date literal."""
    dim = _dim(spark, [(1, "A", D(2024, 1, 1), None, True)])
    ch = _ch(spark, [(1, "B")])
    out = scd2_merge(dim, ch, "k", ["seg"], "20240601").collect()
    rows = {(r.seg, r.is_current): r for r in out}
    assert rows[("B", True)].valid_from == D(2024, 6, 1)
    assert rows[("A", False)].valid_to == D(2024, 6, 1)


def test_scd2_reopened_key_inserts_new_current(spark):
    """A key whose versions are ALL closed (no current row) receives a
    change: it must re-enter via the new-key path (the key-only semi
    probe sees only CURRENT rows, so a history-only key is 'new') —
    one fresh current version, history untouched. A probe over the
    whole dimension instead of the current slice would classify it as
    matched and silently drop the change."""
    dim = _dim(spark, [(1, "OLD", D(2023, 1, 1), D(2024, 1, 1), False)])
    ch = _ch(spark, [(1, "NEW")])
    out = scd2_merge(dim, ch, "k", ["seg"], "2024-06-01").collect()
    rows = {(r.seg, r.is_current): r for r in out}
    assert len(out) == 2
    assert rows[("OLD", False)].valid_to == D(2024, 1, 1)
    reopened = rows[("NEW", True)]
    assert reopened.valid_from == D(2024, 6, 1)
    assert reopened.valid_to is None


def test_scd2_duplicate_new_key_dedups_before_insert(spark):
    """Duplicates of a key ABSENT from the dimension exercise the
    OTHER scan path (the semi/anti new-key probe): without the
    intra-batch dedup the anti join would insert one current row PER
    duplicate. Last writer wins — including when the last duplicate
    carries a NULL attribute (NULL-ness must not demote it)."""
    dim = _dim(spark, [(1, "A", D(2024, 1, 1), None, True)])
    ch = spark.createDataFrame(
        [(9, "X", 0), (9, None, 1)], "k long, seg string, ord long"
    )
    out = scd2_merge(
        dim, ch, "k", ["seg"], "2024-06-01", ordinal_col="ord"
    ).collect()
    inserted = [r for r in out if r.k == 9]
    assert len(inserted) == 1
    assert inserted[0].seg is None and inserted[0].is_current
    assert [r.seg for r in out if r.k == 1] == ["A"]  # untouched


def test_scd2_duplicate_keys_last_writer_identical_is_noop(spark):
    """An earlier duplicate DIFFERS but the LAST one matches the
    current version: the batch must resolve to the last writer BEFORE
    the diff, so no version churn. Diffing against the first (or any
    non-last) duplicate would fork history on a no-op batch."""
    dim = _dim(spark, [(1, "A", D(2024, 1, 1), None, True)])
    ch = spark.createDataFrame(
        [(1, "B", 0), (1, "A", 1)], "k long, seg string, ord long"
    )
    out = scd2_merge(
        dim, ch, "k", ["seg"], "2024-06-01", ordinal_col="ord"
    ).collect()
    assert len(out) == 1
    assert out[0].seg == "A" and out[0].is_current
    assert out[0].valid_from == D(2024, 1, 1)


def test_scd2_duplicate_keys_null_diff_both_paths(spark):
    """The combined attack: duplicates + NULL attribute
    diffs across BOTH scan paths in one batch. k=1 exists with seg
    NULL and the last duplicate re-sends NULL (null-safe no-op even
    though the earlier duplicate differed); k=2 is brand-new with a
    NULL last writer (inserted once, NULL preserved)."""
    dim = _dim(spark, [(1, None, D(2024, 1, 1), None, True)])
    ch = spark.createDataFrame(
        [(1, "X", 0), (1, None, 1), (2, "Y", 0), (2, None, 1)],
        "k long, seg string, ord long",
    )
    out = scd2_merge(
        dim, ch, "k", ["seg"], "2024-06-01", ordinal_col="ord"
    ).collect()
    k1 = [r for r in out if r.k == 1]
    k2 = [r for r in out if r.k == 2]
    assert len(k1) == 1 and k1[0].is_current  # NULL<=>NULL no-op
    assert k1[0].valid_from == D(2024, 1, 1)
    assert len(k2) == 1 and k2[0].seg is None and k2[0].is_current
    assert k2[0].valid_from == D(2024, 6, 1)


def test_scd2_rejects_malformed_effective_date(spark):
    """A malformed effective literal must fail at CALL time with the
    contract named: under ANSI it otherwise surfaces as a generic cast
    error mid-execution, and with ANSI disabled it casts to NULL —
    closed rows get valid_to=NULL, silently corrupting history."""
    dim = _dim(spark, [(1, "A", D(2024, 1, 1), None, True)])
    ch = _ch(spark, [(1, "B")])
    with pytest.raises(ValueError, match="YYYY-MM-DD"):
        scd2_merge(dim, ch, "k", ["seg"], "June 1, 2024")
    with pytest.raises(ValueError, match="YYYY-MM-DD"):
        scd2_merge(dim, ch, "k", ["seg"], None)  # type: ignore[arg-type]


def test_scd2_rejects_helper_column_collision(spark):
    """A dim/changes column named like an internal helper (__u_<attr>,
    __in_upd) would ambiguate or shadow the diff columns — the raw
    failure is an AMBIGUOUS_REFERENCE deep in analysis; the guard
    names the actual problem."""
    dim = _dim(spark, [(1, "A", D(2024, 1, 1), None, True)])
    ch = _ch(spark, [(1, "B")])
    with pytest.raises(ValueError, match="collide"):
        scd2_merge(
            dim.withColumn("__u_seg", F.lit("x")), ch, "k", ["seg"],
            "2024-06-01",
        )
    with pytest.raises(ValueError, match="collide"):
        scd2_merge(
            dim, ch.withColumn("__in_upd", F.lit(True)), "k", ["seg"],
            "2024-06-01",
        )


def test_scd2_coerces_narrower_batch_attr_types(spark):
    """The explode form builds closed (dim-typed attrs) and opened
    (batch-typed attrs) as structs inside ONE array, so the two sides'
    types must unify: an int batch column against a long dim column
    has to widen, not error and not truncate. (The old union form got
    this via unionByName's coercion; the array literal must preserve
    it.)"""
    dim = spark.createDataFrame(
        [(1, 10, D(2024, 1, 1), None, True)],
        "k long, n long, valid_from date, valid_to date,"
        " is_current boolean",
    )
    ch = spark.createDataFrame([(1, 20)], "k long, n int")  # narrower
    out = scd2_merge(dim, ch, "k", ["n"], "2024-06-01")
    assert dict(out.dtypes)["n"] == "bigint"
    rows = {(r.n, r.is_current) for r in out.collect()}
    assert rows == {(10, False), (20, True)}


def test_scd2_multi_attr_mixed_types_close_and_open(spark):
    """Several tracked attributes of mixed types (string + array) —
    the null-safe diff must fire when ANY attr changes, and both the
    closed and opened rows must carry every attr faithfully through
    the struct/explode path (arrays exercise non-primitive struct
    fields)."""
    dim = spark.createDataFrame(
        [(1, "a", [1, 2], D(2024, 1, 1), None, True)],
        "k long, seg string, tags array<int>, valid_from date,"
        " valid_to date, is_current boolean",
    )
    # seg unchanged, tags changed -> still a version change
    ch = spark.createDataFrame(
        [(1, "a", [1, 2, 3])], "k long, seg string, tags array<int>"
    )
    out = scd2_merge(
        dim, ch, "k", ["seg", "tags"], "2024-06-01"
    ).collect()
    by_cur = {r.is_current: r for r in out}
    assert len(out) == 2
    assert by_cur[False].tags == [1, 2] and by_cur[False].seg == "a"
    assert by_cur[True].tags == [1, 2, 3] and by_cur[True].seg == "a"


def test_scd2_history_key_resent_in_batch_stays_inert(spark):
    """The pure-equi join lets a HISTORY row match the batch (the
    is_current gate, not the join condition, keeps it inert). A key
    with both a history row and a current row, resent with the
    history row's old value: the current version must close/open per
    the diff against the CURRENT row, and the history row must pass
    through bit-identical — not fork, not pick up __u_ values."""
    dim = _dim(
        spark,
        [
            (1, "OLD", D(2023, 1, 1), D(2024, 1, 1), False),
            (1, "A", D(2024, 1, 1), None, True),
        ],
    )
    ch = _ch(spark, [(1, "OLD")])  # equals the HISTORY value
    out = scd2_merge(dim, ch, "k", ["seg"], "2024-06-01").collect()
    assert len(out) == 3  # history + closed A + opened OLD
    hist = [
        r for r in out if r.valid_from == D(2023, 1, 1)
    ]
    assert len(hist) == 1
    assert hist[0].seg == "OLD" and hist[0].valid_to == D(2024, 1, 1)
    assert hist[0].is_current is False
    cur = [r for r in out if r.is_current]
    assert len(cur) == 1 and cur[0].seg == "OLD"
    assert cur[0].valid_from == D(2024, 6, 1)


def _full_outer_merge(dim, changes, key, attrs, effective):
    """Reference implementation: the retired single full-outer-join
    merge. Spark ignores broadcast hints on a full outer join
    (BroadcastHashJoin does not support that join type), so this form
    shuffles and sorts the whole dimension per merge; scd2_merge
    composes broadcast-supported shapes instead."""
    eff = F.lit(effective).cast("date")
    cur = dim.where(F.col("is_current").eqNullSafe(F.lit(True))).withColumn(
        "__in_dim", F.lit(True)
    )
    hist = dim.where(~F.col("is_current").eqNullSafe(F.lit(True)))
    deduped = upsert(changes.limit(0), changes, key)
    upd = deduped.select(
        F.col(key),
        *[F.col(a).alias(f"__u_{a}") for a in attrs],
        F.lit(True).alias("__in_upd"),
    )
    j = cur.join(F.broadcast(upd), on=key, how="full_outer")
    in_dim = F.col("__in_dim").isNotNull()
    in_upd = F.col("__in_upd").isNotNull()
    differs = reduce(
        lambda a, b: a | b,
        [~F.col(a).eqNullSafe(F.col(f"__u_{a}")) for a in attrs],
    )
    changed = in_dim & in_upd & differs
    passthrough = j.where(in_dim & ~changed).select(key, *attrs, *VERSION_COLS)
    closed = j.where(changed & in_dim).select(
        key, *attrs, "valid_from", eff.alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    opened = j.where(in_upd & (~in_dim | differs)).select(
        key,
        *[F.col(f"__u_{a}").alias(a) for a in attrs],
        eff.alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return (
        hist.select(key, *attrs, *VERSION_COLS)
        .unionByName(passthrough)
        .unionByName(closed)
        .unionByName(opened)
    )


def _summary(df):
    """Order-free digest: row count and checksum per (is_current,
    valid_to-nullness) class."""
    return sorted(
        tuple(r)
        for r in df.groupBy("is_current", F.col("valid_to").isNull())
        .agg(
            F.count("*").alias("n"),
            F.sum(F.hash("k", "attr", "valid_from").cast("long")).alias("chk"),
        )
        .collect()
    )


def test_broadcast_merge_equals_full_outer_form_under_replication(spark):
    """A 25k-row dimension at 1× and 2× replication (strided keys),
    merged with 1 000 updates to existing keys and 1 000 brand-new
    keys: both merge forms must agree. The plan contrast is asserted
    under autoBroadcastJoinThreshold=-1, the cluster-scale statistics
    where the dimension is too big for AQE to volunteer a broadcast:
    scd2_merge's explicit hints survive (its join shapes support
    broadcast), while the full-outer form's ignored hint leaves at
    least one dimension-side SortMergeJoin. (At tiny row counts with
    the threshold on, Catalyst eliminates the outer join per filtered
    branch and broadcasts everything.)"""
    base = spark.range(25_000).select(
        F.col("id").alias("k"),
        (F.col("id") % 97).cast("string").alias("attr"),
        F.lit("2020-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    stride = key_stride(base, "k")
    eff = "2024-06-01"
    key = "spark.sql.autoBroadcastJoinThreshold"
    for mult in (1, 2):
        dim = replicate_with_stride(base, "k", mult, stride)
        n = stride * mult
        changes = spark.range(1_000).select(
            (F.col("id") * (n // 1_000)).alias("k"),
            F.lit("changed").alias("attr"),
        ).unionByName(
            spark.range(1_000).select(
                (F.col("id") + n).alias("k"), F.lit("brand-new").alias("attr")
            )
        )

        def merges():
            return (
                scd2_merge(dim, changes, "k", ["attr"], eff),
                _full_outer_merge(dim, changes, "k", ["attr"], eff),
            )

        bc, fo = merges()
        assert _summary(bc) == _summary(fo), f"forms diverge at {mult}x"

        old = spark.conf.get(key)
        try:
            spark.conf.set(key, "-1")
            bc_plan, fo_plan = (
                m._jdf.queryExecution().executedPlan().toString()
                for m in merges()
            )
        finally:
            spark.conf.set(key, old)
        assert "SortMergeJoin" not in bc_plan and "BroadcastHashJoin" in bc_plan
        assert "SortMergeJoin" in fo_plan
