"""Window functions — SURVEY.md §2B "Window functions".

The analytic layer over the reference's fact tables ("running billable
hours", "latest worklog per author" — shapes its star schema exists
for). Every window below partitions on a key with bounded per-key
cardinality, so state stays bounded per task at any scale; order
columns always include a unique tiebreak (determinism under ties is a
correctness property, not a style choice).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from airflow_jira_etl_spark import catalog
from airflow_jira_etl_spark.functions.rounding import fround
from airflow_jira_etl_spark.registry import query


@query(
    "win_rank_dense_rownum",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(rank() OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS drnk,
           CAST(row_number() OVER w AS BIGINT) AS rn
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def win_rank_dense_rownum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / row_number per partition."""
    orders = catalog.load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.row_number().over(w).cast("long").alias("rn"),
    )


@query(
    "win_topk_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM orders
    QUALIFY row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_totalprice DESC, o_orderkey) <= 3
    """,
)
def win_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer. At scale this is the one windowed
    filter Spark optimizes specially (rank-limit pushdown in recent
    releases); partitioning bounds state to one customer's orders."""
    orders = catalog.load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


@query(
    "win_running_sum",
    oracle="""
    SELECT event_id, user_id, ts,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
                                  ROWS UNBOUNDED PRECEDING) + 1e-9, 4)
             AS running_value
    FROM events
    """,
)
def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative sum over time per user (running billable-hours
    analog of the reference's worklog measures)."""
    events = catalog.load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return events.select(
        "event_id",
        "user_id",
        "ts",
        fround(F.sum("value").over(w)).alias("running_value"),
    )


@query(
    "win_sliding_rows_frame",
    oracle="""
    SELECT event_id, user_id,
           round(avg(value) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
                                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) + 1e-9, 4)
             AS moving_avg
    FROM events
    """,
)
def win_sliding_rows_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving average over a 3-row sliding frame."""
    events = catalog.load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-2, 0)
    return events.select(
        "event_id",
        "user_id",
        fround(F.avg("value").over(w)).alias("moving_avg"),
    )


@query(
    "win_range_frame",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           count(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                          RANGE BETWEEN 50000.0 PRECEDING AND CURRENT ROW)
             AS n_similar_cheaper
    FROM orders
    """,
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over a numeric order key: how many of the customer's
    orders fall within 50k below this one's price. RANGE frames are
    value-based so ties need no tiebreak (all peers share a frame)."""
    orders = catalog.load(spark, sf_dir, "orders")
    # The Python rangeBetween API only accepts integral bounds; the SQL
    # frame syntax supports fractional offsets on a numeric order key.
    return orders.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.expr(
            "count(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice "
            "RANGE BETWEEN 50000.0 PRECEDING AND CURRENT ROW)"
        ).alias("n_similar_cheaper"),
    )


@query(
    "win_lag_lead",
    oracle="""
    SELECT event_id, user_id, ts,
           round(lag(value, 1, 0.0) OVER w + 1e-9, 4) AS prev_value,
           round(lead(value, 1, -1.0) OVER w + 1e-9, 4) AS next_value,
           epoch_us(ts - lag(ts, 1) OVER w) AS gap_us
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id)
    """,
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead with defaults + session-gap deltas on the event stream
    (exact integer microseconds so the oracle compare is float-free)."""
    events = catalog.load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        "event_id",
        "user_id",
        "ts",
        fround(F.lag("value", 1, 0.0).over(w)).alias("prev_value"),
        fround(F.lead("value", 1, -1.0).over(w)).alias("next_value"),
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts", 1).over(w))).alias(
            "gap_us"
        ),
    )


@query(
    "win_ntile_percent",
    oracle="""
    SELECT c_custkey, c_acctbal,
           CAST(ntile(4) OVER w AS INTEGER) AS quartile,
           round(percent_rank() OVER w + 1e-9, 4) AS pct_rank,
           round(cume_dist() OVER w + 1e-9, 4) AS cdist
    FROM customer
    WINDOW w AS (ORDER BY c_acctbal, c_custkey)
    """,
)
def win_ntile_percent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile(4) / percent_rank / cume_dist over a global ordering —
    computed DISTRIBUTED. An un-partitioned window serializes the whole
    table into one task; instead the two-phase ranker
    (operators/ranking.py) range-shuffles on (c_acctbal, c_custkey) and
    derives every order statistic from (row_number, n) as pure
    expressions — the ordering is tie-free (key appended), so
    rank == row_number and the closed forms match SQL exactly
    (tests/test_operators.py checks them against Spark's own window
    functions, the oracle checks them against DuckDB's)."""
    from airflow_jira_etl_spark.operators.ranking import (
        cume_dist_expr,
        global_row_number,
        ntile_expr,
        percent_rank_expr,
    )

    customer = catalog.load(spark, sf_dir, "customer")
    ranked, n = global_row_number(
        customer.select("c_custkey", "c_acctbal"),
        # NULLS LAST, matching DuckDB's ASC default (Spark's is NULLS
        # FIRST): a NULL c_acctbal would otherwise take rank 1 here
        # and rank n in the oracle, shifting every order statistic
        [F.col("c_acctbal").asc_nulls_last(), F.col("c_custkey")],
    )
    rn = F.col("rn")
    return ranked.select(
        "c_custkey",
        "c_acctbal",
        ntile_expr(rn, n, 4).cast("int").alias("quartile"),
        fround(percent_rank_expr(rn, n)).alias("pct_rank"),
        fround(cume_dist_expr(rn, n)).alias("cdist"),
    )


@query(
    "win_first_last",
    oracle="""
    SELECT event_id, user_id,
           round(first_value(value) OVER w + 1e-9, 4) AS first_v,
           round(last_value(value) OVER w + 1e-9, 4) AS last_v
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value/last_value with an explicit full-partition frame
    (the default frame stops at CURRENT ROW, a classic silent-wrong)."""
    events = catalog.load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return events.select(
        "event_id",
        "user_id",
        fround(F.first("value").over(w)).alias("first_v"),
        fround(F.last("value").over(w)).alias("last_v"),
    )


@query(
    "win_sessionize_gaps",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR date_diff('second', lag(ts) OVER w, ts) > 1800
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id)
    ),
    sess AS (
        SELECT user_id, ts, value,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_seq
        FROM marked
    )
    SELECT user_id,
           CAST(session_seq AS BIGINT) AS session_seq,
           CAST(min(ts) AS TIMESTAMP) AS session_start,
           CAST(max(ts) AS TIMESTAMP) AS session_end,
           count(*) AS n_events,
           round(sum(value) + 1e-9, 4) AS total_value
    FROM sess
    GROUP BY user_id, session_seq
    """,
)
def win_sessionize_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gaps-and-islands): a session breaks after a
    30-minute silence; the running count of break markers is the session
    id. The batch twin of stream_session_window, fully SQL-expressible —
    two windows over ONE (user_id, ts) sort: Catalyst reuses the sort and
    shuffle for the lag pass, the cumulative-sum pass AND the final
    groupBy (all partition on user_id), so the whole query costs a single
    exchange at any scale. Ties broken by event_id — determinism under
    equal timestamps is a correctness property across engines."""
    events = catalog.load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = events.withColumn(
        "is_new",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.col("ts").cast("long") - F.lag("ts").over(w).cast("long")
                > 1800
            ),
            1,
        ).otherwise(0),
    )
    sess = marked.withColumn(
        "session_seq",
        F.sum("is_new")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"),
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
        fround(F.sum("value")).alias("total_value"),
    )


@query(
    "win_running_distinct",
    oracle="""
    WITH marked AS (
        SELECT event_id, user_id, ts, event_type,
               CASE WHEN row_number() OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY ts NULLS FIRST, event_id) = 1
               THEN 1 ELSE 0 END AS first_seen
        FROM events
    )
    SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
           CAST(sum(first_seen) OVER (
               PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_distinct_types
    FROM marked
    """,
)
def win_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) — an operator neither Spark nor DuckDB
    supports natively as a window function (DISTINCT aggregates are
    invalid in OVER clauses in both). The portable lowering: mark each
    (user, event_type)'s FIRST occurrence with one window, then a
    running sum of the markers with a second — two bounded-state window
    passes instead of a per-row distinct set. The two partitionings
    share the user_id prefix, so the second pass reuses locality from
    the first's shuffle."""
    events = catalog.load(spark, sf_dir, "events")
    w_first = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = events.withColumn(
        "first_seen",
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0),
    )
    return marked.select(
        "event_id",
        "user_id",
        "ts",
        F.sum("first_seen").over(w_run).cast("long").alias("n_distinct_types"),
    )


@query(
    "win_consecutive_runs",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type, ts, event_id,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts NULLS FIRST, event_id)
             - row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts NULLS FIRST, event_id) AS run_id
        FROM events
    )
    SELECT user_id,
           CAST(min(ts) AS TIMESTAMP) AS run_start,
           CAST(count(*) AS BIGINT) AS run_len
    FROM seq
    WHERE event_type = 'error'
    GROUP BY user_id, run_id
    HAVING count(*) >= 3
    """,
)
def win_consecutive_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-pattern detection (the MATCH_RECOGNIZE shape): bursts of
    3+ CONSECUTIVE 'error' events per user, found with the
    gaps-and-islands run-id trick — the difference of two row_numbers
    (one per user, one per user+type) is constant exactly within a
    run of equal types. Two window passes sharing the user_id exchange
    prefix, then a run-keyed aggregate: the whole alerting pattern in
    one shuffle family, no self-join, no UDF — identical plan at any
    scale."""
    events = catalog.load(spark, sf_dir, "events")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_type = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    seq = events.withColumn(
        "run_id", F.row_number().over(w_all) - F.row_number().over(w_type)
    )
    return (
        seq.where(F.col("event_type") == "error")
        .groupBy("user_id", "run_id")
        .agg(
            F.min("ts").alias("run_start"),
            F.count("*").alias("run_len"),
        )
        .where(F.col("run_len") >= 3)
        .select("user_id", "run_start", "run_len")
    )


@query(
    "ts_gapfill_locf",
    oracle="""
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               round(avg(value) + 1e-9, 4) AS day_avg
        FROM events GROUP BY 1, 2
    ),
    bounds AS (
        SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
        FROM events
    ),
    cal AS (
        SELECT u.user_id, CAST(g.d AS DATE) AS day
        FROM (SELECT DISTINCT user_id FROM daily) u
        CROSS JOIN bounds b
        CROSS JOIN unnest(generate_series(b.d0, b.d1, INTERVAL 1 DAY)) AS g(d)
    )
    SELECT c.user_id, c.day,
           last_value(d.day_avg IGNORE NULLS) OVER (
               PARTITION BY c.user_id ORDER BY c.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS value_locf,
           d.day_avg IS NULL AS gap_filled
    FROM cal c LEFT JOIN daily d USING (user_id, day)
    """,
)
def ts_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill: densify each user's daily activity onto
    the full corpus calendar, then carry the last observation forward
    (LOCF) across the gaps. The calendar is generated DISTRIBUTED —
    ``sequence(d0, d1)`` exploded per user, never a driver-side loop —
    and its row count is |users| x |days|, i.e. output-sized. Shuffles:
    one for the daily pre-aggregate, one to co-locate each user's
    calendar for the LOCF window; the global date bounds ride in as a
    broadcast scalar. Days before a user's first observation stay NULL
    (flagged by ``gap_filled``) — LOCF never invents data."""
    events = catalog.load(spark, sf_dir, "events")
    daily = events.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(fround(F.avg("value")).alias("day_avg"))
    bounds = events.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    cal = (
        daily.select("user_id")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
        )
    )
    joined = cal.join(daily, ["user_id", "day"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        "day",
        F.last("day_avg", ignorenulls=True).over(w).alias("value_locf"),
        F.col("day_avg").isNull().alias("gap_filled"),
    )


def concurrency_points(events: DataFrame) -> DataFrame:
    """The sweep-line point-set: each event's 5-minute half-open
    interval (clipped at its day's end) as +1/-1 endpoint rows in pure
    BIGINT epoch-micros — the SINGLE construction shared by the
    registered query and its window-form cross-check test, so the two
    cannot drift apart. Columns: (day_idx, pt_us, delta)."""
    day_us = F.lit(86_400_000_000)
    us = F.unix_micros(F.col("ts"))
    ev = events.select(us.alias("us"))
    fm = ((F.col("us") % day_us) + day_us) % day_us
    iv = ev.select(
        F.col("us").alias("s_us"), (F.col("us") - fm).alias("day_start_us")
    )
    iv2 = iv.select(
        "s_us",
        F.least(
            F.col("s_us") + F.lit(300_000_000), F.col("day_start_us") + day_us
        ).alias("e_us"),
        F.expr("day_start_us div 86400000000").alias("day_idx"),
    )
    return iv2.select(
        "day_idx", F.col("s_us").alias("pt_us"), F.lit(1).alias("delta")
    ).unionByName(
        iv2.select("day_idx", F.col("e_us").alias("pt_us"), F.lit(-1).alias("delta"))
    )


@query(
    "win_concurrency_sweep",
    oracle="""
    WITH ev AS (
        -- sole timestamp touchpoint: floor to BIGINT epoch micros.
        -- epoch_ns handles TIMESTAMP and TIMESTAMP_NS alike; // floors.
        SELECT epoch_ns(CAST(ts AS TIMESTAMP)) // 1000 AS us
        FROM events
    ),
    iv AS (
        -- day bucketing via sign-safe floor-mod (engine-agnostic even
        -- for pre-epoch values; both engines' % is truncated remainder)
        SELECT us AS s_us,
               us - ((us % 86400000000) + 86400000000) % 86400000000
                 AS day_start_us
        FROM ev
    ),
    iv2 AS (
        SELECT s_us,
               least(s_us + 300000000, day_start_us + 86400000000) AS e_us,
               CAST(day_start_us // 86400000000 AS BIGINT) AS day_idx
        FROM iv
    ),
    pts AS (
        SELECT day_idx, s_us AS pt_us, 1 AS delta FROM iv2
        UNION ALL
        SELECT day_idx, e_us AS pt_us, -1 AS delta FROM iv2
    ),
    run AS (
        SELECT day_idx, pt_us,
               sum(delta) OVER (PARTITION BY day_idx ORDER BY pt_us, delta
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS live
        FROM pts
    )
    SELECT DATE '1970-01-01' + CAST(day_idx AS INT) AS day,
           CAST(max(live) AS BIGINT) AS max_concurrent,
           CAST(count(*) AS BIGINT) AS n_points,
           min(pt_us) AS min_pt_us,
           max(pt_us) AS max_pt_us
    FROM run GROUP BY day_idx
    """,
)
def win_concurrency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max concurrent sessions per day by SWEEP-LINE: each event opens
    a 5-minute half-open interval [ts, ts+5min) (clipped at its day's
    end); the interval set becomes +1/-1 boundary points and a running
    sum ordered by (time, delta) — ends sort before coincident starts,
    the half-open convention — whose per-day max is the answer. The
    naive formulation is an interval self-join (O(n²) pairs at any
    skewed hour); the sweep is 2n points. Ties at the same (pt, delta)
    produce the same running-sum multiset under any order, so max is
    deterministic.

    The prefix sum runs on ``grouped_running_sum`` (two-phase:
    range-shuffle on (day, pt, delta), per-(partition, day) subtotal
    offsets broadcast back) rather than a ``PARTITION BY day_idx``
    window: a per-day window caps parallelism at |days| — ~30 tasks on
    this fixture, and still only ~36 500 on a century of data while a
    100 TB fact table wants thousands-wide stages. The two-phase form
    keeps every stage at full cluster width regardless of calendar
    span. ``test_concurrency_sweep_rehearsal_on_running_sum`` keeps
    the window form as an independent cross-check.

    ALL arithmetic is BIGINT epoch-microseconds on both engines — the
    single timestamp touchpoint is unix_micros / epoch_ns//1000; day
    bucketing, the 5-minute interval add, and the end-of-day clip are
    pure integer math, and the output day is rebuilt by DATE
    arithmetic from the epoch-day index. No date_trunc, no INTERVAL,
    no timezone-bearing cast survives: timestamp-typed oracle variants
    hashed differently on the driver while matching locally, and
    integer math removes that whole semantics class. The per-day n_points /
    min_pt_us / max_pt_us diagnostics localize any future mismatch to
    point-set vs running-sum."""
    from airflow_jira_etl_spark.operators.ranking import grouped_running_sum

    events = catalog.load(spark, sf_dir, "events")
    pts = concurrency_points(events)
    # ties on the full (day_idx, pt_us, delta) ordering carry equal
    # summands, so the per-day max/count/min/max below are
    # linearization-proof (see grouped_running_sum's tie contract)
    run = grouped_running_sum(
        pts,
        ["day_idx"],
        [F.col("pt_us"), F.col("delta")],
        F.col("delta"),
        sum_col="live",
    )
    return run.groupBy("day_idx").agg(
        F.max("live").alias("max_concurrent"),
        F.count(F.lit(1)).alias("n_points"),
        F.min("pt_us").alias("min_pt_us"),
        F.max("pt_us").alias("max_pt_us"),
    ).select(
        F.date_add(F.to_date(F.lit("1970-01-01")), F.col("day_idx").cast("int")).alias(
            "day"
        ),
        "max_concurrent",
        "n_points",
        "min_pt_us",
        "max_pt_us",
    )
