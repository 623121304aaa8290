"""Property test for the distributed global ranker: for ANY input —
duplicate sort values, nulls, empty partitions, partition counts above
or below the row count — global_row_number must assign exactly the
permutation 1..n that an un-partitioned window's row_number would,
under the same total (key-tiebroken) ordering.

This operator is load-bearing for two registered queries
(sort_multi_key, win_ntile_percent) and relies on
monotonically_increasing_id's partition-local bit layout; the property
sweep is the guard that the layout assumption and the prefix-sum
offsets compose correctly on adversarial shapes, not just the fixture
distributions."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Window
from pyspark.sql import functions as F

from airflow_jira_etl_spark.operators.ranking import global_row_number

values = st.lists(
    st.one_of(st.none(), st.integers(-5, 5)), min_size=1, max_size=40
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(vals=values, n_parts=st.integers(1, 8), desc=st.booleans())
def test_global_row_number_is_window_row_number(spark, vals, n_parts, desc):
    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k long, v long")
    v = F.col("v").desc_nulls_first() if desc else F.col("v").asc_nulls_last()
    order = [v, F.col("k")]
    ranked, n = global_row_number(df, order, num_partitions=n_parts)
    assert n == len(vals)
    got = {r.k: r.rn for r in ranked.collect()}
    want = {
        r.k: r.rn
        for r in df.select(
            "k", F.row_number().over(Window.orderBy(*order)).cast("long").alias("rn")
        ).collect()
    }
    assert got == want


def test_running_sum_and_global_rn_survive_cache_drop(spark):
    """The range-tagged frame must be lineage-truncated
    (localCheckpoint), not merely persisted: a re-executed
    repartitionByRange re-samples its boundaries, so a clearCache()
    between the operator call and the caller's action would recompute
    the output pass under a different partitioning than the bookkeeping
    pass measured. grouped_running_sum and global_row_number must hold
    exact window-oracle agreement across that clearCache — both share
    _range_tag's localCheckpoint, but each consumes the tagged frame
    through different bookkeeping (prefix sums vs counts), so each
    gets its own pin."""
    from airflow_jira_etl_spark.operators.ranking import (
        global_row_number,
        grouped_running_sum,
    )

    df = spark.range(20000).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).cast("string").alias("g"),
        (F.col("id") % 13).alias("v"),
        F.when(F.col("id") % 11 == 0, None)
        .otherwise(F.col("id") % 5)
        .alias("x"),  # NULL summands: exercise the null-aware offsets
    )
    order = [F.col("v"), F.col("k")]
    w = Window.partitionBy("g").orderBy(*order)

    rs = grouped_running_sum(
        df, ["g"], order, F.col("x"), num_partitions=16
    )
    spark.catalog.clearCache()  # between the passes, before the action
    got = {r.k: r.rsum for r in rs.collect()}
    want = {
        r.k: r.rsum
        for r in df.select(
            "k",
            F.sum("x")
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .alias("rsum"),
        ).collect()
    }
    assert got == want

    ranked, n = global_row_number(df, order + [F.col("g")], num_partitions=16)
    spark.catalog.clearCache()
    got_rn = {r.k: r.rn for r in ranked.collect()}
    assert n == 20000
    wg = Window.orderBy(*(order + [F.col("g")]))
    want_rn = {
        r.k: r.rn
        for r in df.select(
            "k", F.row_number().over(wg).cast("long").alias("rn")
        ).collect()
    }
    assert got_rn == want_rn


rsum_rows = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", None]),  # None: NULL group keys
        st.integers(-4, 4),  # order key with heavy ties
        st.one_of(st.none(), st.integers(-5, 5)),  # NULL summands
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=rsum_rows, n_parts=st.integers(1, 8), with_total=st.booleans())
def test_grouped_running_sum_matches_partitioned_window(
    spark, rows, n_parts, with_total
):
    """grouped_running_sum under a UNIQUE total order (key tiebreak)
    must equal the ROWS-frame Window.partitionBy(g).orderBy(v,k) sum on
    any mix of group skew, NULL group keys, NULL summands (all-NULL
    prefix stays NULL — the offset/local split must not coalesce it to
    0), negative values, and partition counts that split one group
    across many range partitions."""
    from airflow_jira_etl_spark.operators.ranking import grouped_running_sum

    data = [(i, g, v, x) for i, (g, v, x) in enumerate(rows)]
    df = spark.createDataFrame(data, "k long, g string, v long, x long")
    order = [F.col("v"), F.col("k")]
    total = "gtot" if with_total else None
    got_df = grouped_running_sum(
        df, ["g"], order, F.col("x"), total_col=total, num_partitions=n_parts
    )
    got = {
        r.k: (r.rsum, r.gtot if with_total else None)
        for r in got_df.collect()
    }
    w = (
        Window.partitionBy("g")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wp = Window.partitionBy("g")
    want = {
        r.k: (r.rsum, r.gtot if with_total else None)
        for r in df.select(
            "k",
            F.sum("x").over(w).alias("rsum"),
            F.sum("x").over(wp).alias("gtot"),
        ).collect()
    }
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["a", "b"]), st.integers(0, 3)),
        min_size=1,
        max_size=40,
    ),
    n_parts=st.integers(1, 8),
)
def test_grouped_running_sum_tie_invariant_aggregates(spark, rows, n_parts):
    """The sweep-line consumption pattern: a NON-unique order whose ties
    carry equal summands (+1 for every row tied on (g, v) here via
    delta = v % 2). Per-row values may differ from the window's under
    tie reshuffling across range-partition boundaries, but the
    per-group (max, min, count) of the running sum — what the
    concurrency sweep consumes — must be identical."""
    from airflow_jira_etl_spark.operators.ranking import grouped_running_sum

    data = [(g, v, 1 if v % 2 else -1) for g, v in rows]
    df = spark.createDataFrame(data, "g string, v long, delta long")
    # ties on the FULL ordering (g, v, delta) share the same delta by
    # construction, so the prefix-sum multiset is linearization-proof
    order = [F.col("v"), F.col("delta")]
    got_df = grouped_running_sum(
        df, ["g"], order, F.col("delta"), num_partitions=n_parts
    )
    agg = lambda frame: {
        r.g: (r.mx, r.mn, r.c)
        for r in frame.groupBy("g")
        .agg(
            F.max("rsum").alias("mx"),
            F.min("rsum").alias("mn"),
            F.count("*").alias("c"),
        )
        .collect()
    }
    w = (
        Window.partitionBy("g")
        .orderBy("v", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want_df = df.select("g", F.sum("delta").over(w).alias("rsum"))
    assert agg(got_df) == agg(want_df)


def test_grouped_running_sum_global_form(spark):
    """Empty group list degenerates to a GLOBAL running sum (one
    implicit group): matches the un-partitioned window form."""
    from airflow_jira_etl_spark.operators.ranking import grouped_running_sum

    data = [(i, (i * 7) % 5, i - 3) for i in range(23)]
    df = spark.createDataFrame(data, "k long, v long, x long")
    order = [F.col("v"), F.col("k")]
    got = {
        r.k: (r.rsum, r.tot)
        for r in grouped_running_sum(
            df, [], order, F.col("x"), total_col="tot", num_partitions=4
        ).collect()
    }
    w = Window.orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = {
        r.k: (r.rsum, r.tot)
        for r in df.select(
            "k",
            F.sum("x").over(w).alias("rsum"),
            F.sum("x").over(Window.partitionBy()).alias("tot"),
        ).collect()
    }
    assert got == want


def test_ranking_rejects_colliding_column_names(spark):
    """Input columns named like the helpers or outputs must fail loudly
    (ambiguous references / silent shadowing otherwise)."""
    import pytest

    from airflow_jira_etl_spark.operators.ranking import (
        global_row_number,
        grouped_running_sum,
    )

    df = spark.createDataFrame([(1, "a", 2)], "rn long, g string, v long")
    with pytest.raises(ValueError, match="collide"):
        global_row_number(df, [F.col("v")])
    df2 = spark.createDataFrame([(1, "a", 2)], "rsum long, g string, v long")
    with pytest.raises(ValueError, match="collide"):
        grouped_running_sum(df2, ["g"], [F.col("v")], F.col("v"))
    ok = spark.createDataFrame([(1, "a", 2)], "k long, g string, v long")
    # a helper-named OUTPUT would be eaten by the final helper drop
    with pytest.raises(ValueError, match="reserved"):
        grouped_running_sum(ok, ["g"], [F.col("v")], F.col("v"), sum_col="_gr_lsum")
    with pytest.raises(ValueError, match="distinct"):
        grouped_running_sum(
            ok, ["g"], [F.col("v")], F.col("v"), sum_col="s", total_col="s"
        )


def test_grouped_forms_handle_nan_group_keys(spark):
    """NaN group keys: Spark's groupBy/range-sort/eqNullSafe all treat
    NaN as ONE group, but NaN != NaN makes a plain Python dict lookup
    miss — without sentinel normalization the driver-side prefix would
    silently restart at every range-partition boundary. Forcing many
    partitions over a NaN-heavy group makes the group span partitions."""
    from airflow_jira_etl_spark.operators.ranking import grouped_running_sum

    nan = float("nan")
    data = [(i, nan if i % 3 else 1.5, 1) for i in range(30)]
    df = spark.createDataFrame(data, "k long, g double, x long")
    summed = grouped_running_sum(
        df, ["g"], [F.col("k")], F.col("x"), total_col="t", num_partitions=7
    )
    got_s = {r.k: (r.rsum, r.t) for r in summed.collect()}
    ws = (
        Window.partitionBy("g")
        .orderBy("k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want_s = {
        r.k: (r.rsum, r.t)
        for r in df.select(
            "k",
            F.sum("x").over(ws).alias("rsum"),
            F.sum("x").over(Window.partitionBy("g")).alias("t"),
        ).collect()
    }
    assert got_s == want_s


def test_concurrency_sweep_rehearsal_on_running_sum(spark, sf_dir):
    """win_concurrency_sweep is REGISTERED on grouped_running_sum (the
    distributed form that removed the |days|-cardinality window
    partition). This test keeps the ORIGINAL ``PARTITION BY day_idx``
    window formulation as the independent reference plan and asserts
    exact output equality on the real events fixture, so any drift
    between the two-phase prefix sum and plain window semantics fails
    here first."""
    from pyspark.sql import Window

    from airflow_jira_etl_spark import catalog
    from airflow_jira_etl_spark.queries.windows import (
        concurrency_points,
        win_concurrency_sweep,
    )

    events = catalog.load(spark, sf_dir, "events")
    pts = concurrency_points(events)
    # the window form: per-day window running sum
    w = (
        Window.partitionBy("day_idx")
        .orderBy("pt_us", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = pts.select(
        "day_idx", "pt_us", F.sum("delta").over(w).alias("live")
    )
    got = run.groupBy("day_idx").agg(
        F.max("live").alias("max_concurrent"),
        F.count(F.lit(1)).alias("n_points"),
        F.min("pt_us").alias("min_pt_us"),
        F.max("pt_us").alias("max_pt_us"),
    ).select(
        F.date_add(
            F.to_date(F.lit("1970-01-01")), F.col("day_idx").cast("int")
        ).alias("day"),
        "max_concurrent",
        "n_points",
        "min_pt_us",
        "max_pt_us",
    )
    want = win_concurrency_sweep(spark, sf_dir)
    key = lambda r: str(r["day"])
    got_rows = {key(r): tuple(r) for r in got.collect()}
    want_rows = {key(r): tuple(r) for r in want.collect()}
    assert got_rows == want_rows and len(got_rows) > 0
