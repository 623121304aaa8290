"""Composite analytic reports — multi-operator compositions in the
TPC-H mold, the "downstream dashboards" the reference's star schema
exists to feed (README.md:4 of the reference; join keys per SURVEY §2B).

Each composes several already-verified operators (multi-join + filter +
aggregate + window/top-k) so the correctness gate also covers operator
INTERACTION, not just isolated shapes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from airflow_jira_etl_spark import catalog
from airflow_jira_etl_spark.functions.rounding import fround
from airflow_jira_etl_spark.registry import query


@query(
    "report_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)) + 1e-9, 4) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 20
    """,
)
def report_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: unshipped revenue by order for one segment.
    Two fact joins + selective filters pushed to all three scans +
    top-20 (TakeOrderedAndProject after the aggregate)."""
    customer = catalog.load(spark, sf_dir, "customer")
    orders = catalog.load(spark, sf_dir, "orders")
    lineitem = catalog.load(spark, sf_dir, "lineitem")
    cutoff = F.lit("1998-03-15").cast("timestamp")
    return (
        customer.where(F.col("c_mktsegment") == "BUILDING")
        .join(orders, customer.c_custkey == orders.o_custkey)
        .where(F.col("o_orderdate") < cutoff)
        .join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .where(F.col("l_shipdate") > cutoff)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            fround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(20)
    )


@query(
    "report_local_supplier_volume",
    oracle="""
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)) + 1e-9, 4) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
      AND c_nationkey = s_nationkey
    GROUP BY n_name
    """,
)
def report_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue through LOCAL suppliers (customer and
    supplier in the same nation) for one region and year. Five joins —
    two fact-side shuffles, fixed-domain dims (nation/region)
    broadcast-hinted and the scaling supplier dim left to AQE's
    size-based choice (broadcast at test SF, shuffle past the 8 GB
    broadcast limit) — plus the
    local-supplier theta condition applied as a post-join filter."""
    customer = catalog.load(spark, sf_dir, "customer")
    orders = catalog.load(spark, sf_dir, "orders")
    lineitem = catalog.load(spark, sf_dir, "lineitem")
    supplier = catalog.load(spark, sf_dir, "supplier")
    nation = catalog.load(spark, sf_dir, "nation")
    region = catalog.load(spark, sf_dir, "region")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey)
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .join(supplier, lineitem.l_suppkey == supplier.s_suppkey)
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .where(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(
            fround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("revenue")
        )
    )


@query(
    "report_forecast_revenue_change",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount) + 1e-9, 4) AS potential_revenue,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def report_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: a single fully-pushed-down scan + global
    aggregate — the cheapest possible plan (no joins, no wide shuffle;
    the partial aggregate reduces each partition to one row)."""
    lineitem = catalog.load(spark, sf_dir, "lineitem")
    return (
        lineitem.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            fround(F.sum(F.col("l_extendedprice") * F.col("l_discount"))).alias(
                "potential_revenue"
            ),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "report_top_parts_per_brand",
    oracle="""
    WITH part_rev AS (
        SELECT p_brand, p_name,
               round(sum(l_extendedprice * (1 - l_discount)) + 1e-9, 4) AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand, p_name
    )
    SELECT p_brand, p_name, revenue, CAST(rnk AS INTEGER) AS rnk
    FROM (
        SELECT *, rank() OVER (PARTITION BY p_brand
                               ORDER BY revenue DESC, p_name) AS rnk
        FROM part_rev
    )
    WHERE rnk <= 3
    """,
)
def report_top_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agg → window composition: revenue per (brand, part), then top-3
    parts per brand. The window runs on the AGGREGATED rows (output-
    sized), never on the raw fact table."""
    lineitem = catalog.load(spark, sf_dir, "lineitem")
    part = catalog.load(spark, sf_dir, "part")
    part_rev = (
        lineitem.join(part, lineitem.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_name")
        .agg(
            fround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("revenue")
        )
    )
    w = Window.partitionBy("p_brand").orderBy(F.col("revenue").desc(), "p_name")
    return (
        part_rev.withColumn("rnk", F.rank().over(w).cast("int"))
        .where(F.col("rnk") <= 3)
    )


@query(
    "report_market_share",
    oracle="""
    WITH all_rev AS (
        SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
               l_extendedprice * (1 - l_discount) AS rev,
               p_type
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN part ON l_partkey = p_partkey
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1999-01-01'
    )
    SELECT o_year,
           round(sum(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END)
                 / sum(rev) + 1e-9, 4) AS promo_share,
           round(sum(rev) + 1e-9, 4) AS total_revenue
    FROM all_rev
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def report_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one part type's share of total revenue per year
    — the conditional-aggregate-ratio pattern (numerator as a CASE
    inside the same grouped sum, NOT a second scan or self-join). Part
    is the small side and broadcasts; the date filter reaches the
    orders scan."""
    lineitem = catalog.load(spark, sf_dir, "lineitem")
    orders = catalog.load(spark, sf_dir, "orders")
    part = catalog.load(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
        )
        .join(part, lineitem.l_partkey == part.p_partkey)
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            rev.alias("rev"),
            "p_type",
        )
    )
    return (
        joined.groupBy("o_year")
        .agg(
            fround(
                F.sum(F.when(F.col("p_type") == "PROMO", F.col("rev")).otherwise(0.0))
                / F.sum("rev")
            ).alias("promo_share"),
            fround(F.sum("rev")).alias("total_revenue"),
        )
        .orderBy("o_year")
    )


@query(
    "report_returned_items",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           round(sum(l_extendedprice * (1 - l_discount)) + 1e-9, 4) AS lost_revenue,
           CAST(count(*) AS BIGINT) AS n_returned_lines
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN orders ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY lost_revenue DESC, c_custkey
    LIMIT 20
    """,
)
def report_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top customers by returned-item revenue in one
    year — two fact joins with pushed filters, a broadcast dim chain
    (nation via customer), grouped revenue, top-20 lowered to
    TakeOrderedAndProject."""
    customer = catalog.load(spark, sf_dir, "customer")
    nation = catalog.load(spark, sf_dir, "nation")
    orders = catalog.load(spark, sf_dir, "orders")
    lineitem = catalog.load(spark, sf_dir, "lineitem")
    return (
        lineitem.where(F.col("l_returnflag") == "R")
        .join(
            orders.where(
                (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            fround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("lost_revenue"),
            F.count("*").alias("n_returned_lines"),
        )
        .orderBy(F.col("lost_revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "filter_exists_subquery",
    oracle="""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey
              AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def filter_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders with at least one late-shipped line,
    counted by priority, written as a correlated EXISTS. Catalyst
    rewrites the subquery to a LEFT SEMI join — no per-row subquery
    execution; the plan is the same as the hand-written join_semi."""
    catalog.load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    catalog.load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS n_orders
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
          AND EXISTS (
                SELECT 1 FROM lineitem
                WHERE l_orderkey = o_orderkey
                  AND l_shipdate > o_orderdate + INTERVAL 60 DAYS
          )
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """
    )


@query(
    "filter_not_exists_subquery",
    oracle="""
    WITH avg_bal AS (
        -- rounded on BOTH engines: the raw avg differs by summation
        -- order, so a balance between the two engines' averages would
        -- flip membership in one engine only (the convention
        -- report_sales_opportunity already applies to this predicate)
        SELECT round(avg(c_acctbal) + 1e-9, 4) AS a
        FROM customer WHERE c_acctbal > 0
    ),
    top_prio AS (
        SELECT min(o_orderpriority) AS p FROM orders
    )
    SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers,
           round(sum(c_acctbal) + 1e-9, 4) AS total_balance
    FROM customer, avg_bal
    WHERE c_acctbal > avg_bal.a
      AND NOT EXISTS (SELECT 1 FROM orders, top_prio
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = top_prio.p)
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def filter_not_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no
    top-priority order — an uncorrelated scalar subquery (broadcast
    one averaged row) plus a correlated NOT EXISTS that Catalyst
    rewrites to a LEFT ANTI join. The two classic subquery
    decorrelations in one query. The anti-join side is orders AT the
    top priority, not all orders: this fixture's generator gives every
    customer at least one order, so the plain "no orders" Q22
    predicate was vacuously empty at every SF — an always-0-row
    symmetric green the oracle compare cannot distinguish from a real
    check. The priority literal is derived (min over orders), not
    hard-coded, so a relabeled fixture regen cannot re-empty it."""
    catalog.load(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    catalog.load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT c_mktsegment, count(*) AS n_customers,
               round(sum(c_acctbal) + 1e-9, 4) AS total_balance
        FROM customer
        WHERE c_acctbal > (SELECT round(avg(c_acctbal) + 1e-9, 4)
                           FROM customer WHERE c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderpriority =
                                (SELECT min(o_orderpriority) FROM orders))
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
        """
    )


@query(
    "agg_exact_quantiles",
    oracle="""
    WITH ranked AS (
        SELECT l_returnflag, l_extendedprice,
               row_number() OVER (PARTITION BY l_returnflag
                                  ORDER BY l_extendedprice, l_orderkey,
                                           l_linenumber) AS rn,
               count(*) OVER (PARTITION BY l_returnflag) AS n
        FROM lineitem
    )
    SELECT l_returnflag,
           CAST(max(n) AS BIGINT) AS n_rows,
           round(max(CASE WHEN rn = (n + 3) // 4 THEN l_extendedprice END)
                 + 1e-9, 4) AS p25,
           round(max(CASE WHEN rn = (n + 1) // 2 THEN l_extendedprice END)
                 + 1e-9, 4) AS p50,
           round(max(CASE WHEN rn = (3 * n + 1) // 4 THEN l_extendedprice END)
                 + 1e-9, 4) AS p75
    FROM ranked
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def agg_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT grouped quartiles by rank selection — the deterministic
    alternative to approx_percentile when cross-engine (or cross-run)
    equality matters: ranks floor(p·(n-1))+1 (the LOWER-quantile
    convention, identical in both engines' integer division).

    Shape ("aggregate before you shuffle"): the quantile VALUE at rank r
    depends only on the per-(group, value) multiplicity — the oracle's
    (l_orderkey, l_linenumber) tie-break orders rows WITHIN one value,
    so the value selected at any rank is tie-break-invariant. The query
    therefore collapses the table to its value DOMAIN first
    (groupBy(flag, price) count — map-side partial aggregation, so the
    one wide shuffle carries |distinct prices per flag| rows, bounded by
    the price domain, not the table), then selects each target rank from
    the cumulative counts with an ordinary per-group window over the
    aggregated rows. This form is ONE action with no range exchange,
    sampling scan, localCheckpoint or driver collect, and nothing
    row-sized ever shuffles or materializes. The window partitions by
    the 3-value flag, but its input is the aggregated domain (≤ |price
    domain| rows per flag at ANY table size — TPC-H prices are discrete
    cents with a bounded range), so the 3-task cap applies to
    domain-sized data only; for genuinely unbounded value domains,
    operators/ranking.py's grouped_running_sum over a constant 1 gives
    the per-group row number without a |groups|-task window."""
    from pyspark.sql import Window

    lineitem = catalog.load(spark, sf_dir, "lineitem")
    cnts = lineitem.groupBy("l_returnflag", "l_extendedprice").agg(
        F.count("*").alias("_cnt")
    )
    # NULLS LAST, matching DuckDB's ASC default (Spark's is NULLS
    # FIRST): a NULL l_extendedprice would otherwise shift every
    # rank by one and move all three selected quantiles
    w = (
        Window.partitionBy("l_returnflag")
        .orderBy(F.col("l_extendedprice").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy("l_returnflag")
    ranked = (
        cnts.select(
            "l_returnflag",
            "l_extendedprice",
            "_cnt",
            F.sum("_cnt").over(w).alias("_hi"),
            F.sum("_cnt").over(wn).alias("_n"),
        )
        .withColumn("_lo", F.col("_hi") - F.col("_cnt"))
    )

    def pick(rank) -> F.Column:
        # the distinct value whose cumulative rank span (_lo, _hi]
        # covers the target rank; exactly one row per group matches
        return F.max(
            F.when(
                (F.col("_lo") < rank) & (rank <= F.col("_hi")),
                F.col("l_extendedprice"),
            )
        )

    # integer div — `/` is double division and (n+1)/2 for even n
    # would match no integer rank
    r25 = F.expr("(_n + 3) div 4")
    r50 = F.expr("(_n + 1) div 2")
    r75 = F.expr("(3 * _n + 1) div 4")
    return (
        ranked.groupBy("l_returnflag")
        .agg(
            F.max("_n").alias("n_rows"),
            fround(pick(r25)).alias("p25"),
            fround(pick(r50)).alias("p50"),
            fround(pick(r75)).alias("p75"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "report_funnel_steps",
    oracle="""
    WITH v AS (
        SELECT user_id, min(ts) AS view_ts
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, min(e.ts) AS click_ts
        FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.view_ts
        WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, min(e.ts) AS purchase_ts
        FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.click_ts
        WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT v.user_id,
           CAST(v.view_ts AS TIMESTAMP) AS view_ts,
           CAST(c.click_ts AS TIMESTAMP) AS click_ts,
           CAST(p.purchase_ts AS TIMESTAMP) AS purchase_ts,
           CAST(CASE WHEN p.user_id IS NOT NULL THEN 3
                     WHEN c.user_id IS NOT NULL THEN 2
                     ELSE 1 END AS INT) AS funnel_depth
    FROM v
    LEFT JOIN c ON v.user_id = c.user_id
    LEFT JOIN p ON v.user_id = p.user_id
    """,
)
def report_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-sequence conversion funnel (view → click after it →
    purchase after that): per user, the timestamp reached at each step
    and the depth attained. Each step is a per-user MIN over the events
    scan joined to the previous step's (tiny, per-user) frontier — the
    frontier joins UNHINTED: AQE broadcasts it at any testable SF (one
    row per converting user), and past the broadcast limit it degrades
    to a shuffle join instead of failing — at 100 TB the plan is three
    pushed-filter scans + size-appropriate joins + partial
    aggs, no events-sized exchange."""
    ev = catalog.load(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    # DELIBERATELY LAZY (re-derived per reference): the r12 scan audit
    # flagged that this plan physically scans events SIX times (view
    # 3×, click 2×, purchase 1×) because v feeds both the click step
    # and the final assembly and c feeds two consumers too. Both
    # materialization fixes were measured and REJECTED: cache() ran
    # 2–4× slower at sf0.1 (1.2–2.7 s vs 0.65 s lazy — columnar cache
    # writes cost more than the re-scans save) and localCheckpoint
    # tripled the build cost with eager jobs. At 100 TB the trade is
    # genuinely two-sided — six PUSHED-FILTER scans (each reads only
    # its event_type slice) vs caching a billions-of-users frontier
    # (memory pressure + eviction recompute) — and the scans stay
    # embarrassingly parallel while the cache serializes on fill. See
    # PLANS.md §scan-audit for the A/B numbers.
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("view_ts"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("view_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ts"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("click_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            "view_ts",
            "click_ts",
            "purchase_ts",
            F.when(F.col("purchase_ts").isNotNull(), 3)
            .when(F.col("click_ts").isNotNull(), 2)
            .otherwise(1)
            .cast("int")
            .alias("funnel_depth"),
        )
    )


@query(
    "report_retention_cohorts",
    oracle="""
    WITH f AS (
        SELECT user_id,
               CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
        FROM events GROUP BY user_id
    )
    SELECT f.cohort_week,
           CAST(date_diff('day', f.cohort_week,
                          CAST(date_trunc('week', e.ts) AS DATE)) // 7
                AS INT) AS week_offset,
           count(DISTINCT e.user_id) AS n_active
    FROM events e JOIN f ON e.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def report_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by the week of their
    first event; each cell counts distinct users of that cohort active
    N weeks later. The cohort frontier (one row per user) joins
    unhinted — AQE broadcasts it below the limit, shuffles above —
    back onto the events scan; week arithmetic is exact integer day
    math on Monday-truncated dates, so both engines agree to the day.
    The distinct-count shuffles once on (cohort, offset) — at 100 TB
    the pre-aggregation (partial distinct) keeps the exchange small."""
    ev = catalog.load(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    return (
        ev.join(f, "user_id")
        .select(
            "cohort_week",
            (
                F.datediff(
                    F.date_trunc("week", F.col("ts")).cast("date"),
                    F.col("cohort_week"),
                )
                / 7
            )
            .cast("int")
            .alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_active"))
    )


@query(
    "report_monthly_growth",
    oracle="""
    -- The lag chain runs over NON-NULL months ONLY, and the GROUP BY
    -- feeding it is PRE-FILTERED so it never materializes a NULL
    -- group at all; NULL-o_orderdate rows aggregate in a separate
    -- branch that rejoins with NULL growth. This dodges a DuckDB
    -- 1.0.0 soundness bug: a hash aggregate's NULL-group row read by
    -- a downstream operator under threads is RACY — the row's key
    -- sometimes reads as garbage, so it nondeterministically passes
    -- a month IS NOT NULL filter or lands mid-chain in a window sort
    -- (~40% of runs on this shape; NULLS FIRST qualifiers and even a
    -- COALESCE sentinel sort key do not help, only keeping the NULL
    -- group out of the aggregate does). Excluding the dateless
    -- bucket from the chain is also the truer semantics: growth vs a
    -- dateless bucket is meaningless.
    WITH monthly AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               round(sum(o_totalprice) + 1e-9, 4) AS revenue
        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    )
    SELECT month, revenue,
           round(
             (revenue - lag(revenue) OVER (ORDER BY month))
               / lag(revenue) OVER (ORDER BY month) + 1e-9, 4
           ) AS mom_growth
    FROM monthly
    UNION ALL
    SELECT CAST(NULL AS DATE) AS month,
           round(sum(o_totalprice) + 1e-9, 4) AS revenue,
           CAST(NULL AS DOUBLE) AS mom_growth
    FROM orders WHERE o_orderdate IS NULL HAVING count(*) > 0
    """,
)
def report_monthly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth — the KPI-dashboard shape:
    coarse time-bucket aggregate, then lag() on the aggregate. The
    window is GLOBAL (no partition key) but runs over |months| rows —
    strictly output-sized, so the single-task window is a non-issue at
    any input scale; the heavy lifting is the partial→final monthly
    aggregate. First month's growth is NULL (no prior), not 0 — absent
    history is not zero growth. A NULL month (NULL o_orderdate) is
    EXCLUDED from the lag chain and carries NULL growth — growth vs a
    dateless bucket is meaningless, and keeping the NULL group out of
    the chain also dodges a DuckDB 1.0.0 race on NULL-group rows read
    downstream of a threaded hash aggregate (see the oracle comment).
    The engine form stays ONE-PASS: the window partitions on
    (month IS NULL), so the NULL month sits alone in its own
    partition and its lag is NULL naturally — no second scan, no
    union, identical output to the oracle's two-branch SQL."""
    orders = catalog.load(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month")
    ).agg(fround(F.sum("o_totalprice")).alias("revenue"))
    w = Window.partitionBy(F.col("month").isNull()).orderBy("month")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "month",
        "revenue",
        fround((F.col("revenue") - prev) / prev).alias("mom_growth"),
    )


@query(
    "report_large_volume_customers",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           round(o.o_totalprice + 1e-9, 4) AS o_totalprice,
           big.sum_qty
    FROM (
        SELECT l_orderkey, sum(l_quantity) AS sum_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING sum(l_quantity) > 300
    ) big
    JOIN orders o ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
)
def report_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers holding orders whose total lineitem
    quantity clears a threshold. The aggregate-then-join order is the
    scale decision: lineitem collapses to |orders| rows (partial→final
    sum) and the HAVING prunes to the rare heavy orders BEFORE any
    join — the joins then run on the small survivor set, and AQE
    broadcasts it against orders/customer. Joining first and
    aggregating after would shuffle the full lineitem x orders
    product."""
    lineitem = catalog.load(spark, sf_dir, "lineitem")
    orders = catalog.load(spark, sf_dir, "orders")
    customer = catalog.load(spark, sf_dir, "customer")
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .where(F.col("sum_qty") > 300)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            fround(F.col("o_totalprice")).alias("o_totalprice"),
            "sum_qty",
        )
    )


@query(
    "report_waiting_suppliers",
    oracle="""
    SELECT s_name, count(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def report_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the ONLY late supplier on a
    multi-supplier order ("late" = shipped >60 days after the order
    date; the fixture has no commit/receipt dates).

    The oracle states it with the textbook pair of <>-correlated
    EXISTS / NOT EXISTS subqueries — three reads of the fact table.
    The engine computes the same predicate in ONE lineitem scan: after
    the lineitem⋈orders join (shuffle on l_orderkey), two window
    collect_sets over the same l_orderkey partitioning give each row
    its order's distinct-supplier and distinct-LATE-supplier sets, and
    a row qualifies iff it is late, the order has >1 supplier, and the
    late-supplier set is exactly {its own supplier}. Because the window
    partitions on the join key, Catalyst inserts no extra exchange —
    at 100 TB that is 1 shuffle of the fact table instead of 3 (the
    decorrelated semi + anti joins each re-shuffled a full lineitem
    read). Supplier joins unhinted (AQE broadcasts at test SF; the
    supplier table scales with SF, so a forced hint would hit the 8 GB
    broadcast wall); the final agg is on s_name (bounded
    domain)."""
    li = catalog.load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = catalog.load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    supplier = catalog.load(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    flagged = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).withColumn(
        "is_late",
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY"),
    )
    w = Window.partitionBy("l_orderkey")
    per_order = flagged.select(
        "l_orderkey",
        "l_suppkey",
        "is_late",
        F.size(F.collect_set("l_suppkey").over(w)).alias("n_supp"),
        F.collect_set(F.when(F.col("is_late"), F.col("l_suppkey"))).over(w).alias(
            "late_supps"
        ),
    )
    qualifying = per_order.where(
        F.col("is_late")
        & (F.col("n_supp") > 1)
        & (F.size("late_supps") == 1)  # sole late supplier == this row's
    )
    return (
        qualifying.join(
            supplier, F.col("l_suppkey") == F.col("s_suppkey")
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


@query(
    "report_sales_opportunity",
    oracle="""
    SELECT c_nationkey, count(*) AS numcust,
           round(sum(c_acctbal) + 1e-9, 4) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT round(avg(c_acctbal) + 1e-9, 4)
                       FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '1997-06-01')
    GROUP BY c_nationkey
    """,
)
def report_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: wealthy-but-lapsed customers per nation —
    above-average account balance (uncorrelated scalar subquery:
    computed once, broadcast as a literal-like filter) and no order
    since mid-1997 (correlated NOT EXISTS → LeftAnti hash join against
    a date-pruned orders scan). Every customer in the fixture has SOME
    order, so the recency predicate is what makes the anti join
    selective. The scalar threshold is rounded to 4 dp (+1e-9) on both
    sides — Spark's partial-agg summation order can differ from
    DuckDB's serial avg by ulps, and a balance sitting exactly at the
    raw threshold could otherwise flip membership between engines
    (the repo-wide boundary-stabilization convention)."""
    for t in ("customer", "orders"):
        catalog.load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT c_nationkey, count(*) AS numcust,
               round(sum(c_acctbal) + 1e-9, 4) AS totacctbal
        FROM customer
        WHERE c_acctbal > (SELECT round(avg(c_acctbal) + 1e-9, 4)
                           FROM customer WHERE c_acctbal > 0.0)
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderdate >= TIMESTAMP '1997-06-01')
        GROUP BY c_nationkey
        """
    )


@query(
    "report_supplier_share",
    oracle="""
    SELECT l_suppkey, round(sum(l_quantity) + 1e-9, 4) AS total_qty
    FROM lineitem
    GROUP BY l_suppkey
    HAVING sum(l_quantity) >
           (SELECT 1.1 * sum(l_quantity) / count(DISTINCT l_suppkey)
            FROM lineitem)
    """,
)
def report_supplier_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: suppliers moving >110% of the mean per-supplier
    volume. A HAVING against an uncorrelated scalar subquery over the
    SAME fact: both aggregates are partial→final over one lineitem
    scan shape, and the scalar side reduces to a single broadcast
    value — no re-scan per group. Quantity (integer-valued) rather
    than revenue keeps the threshold comparison exact in both engines;
    the 1.1 multiplier is scale-free (survives any SF) where a fixed
    fraction of total would empty out as the supplier count grows."""
    for t in ("lineitem",):
        catalog.load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT l_suppkey, round(sum(l_quantity) + 1e-9, 4) AS total_qty
        FROM lineitem
        GROUP BY l_suppkey
        HAVING sum(l_quantity) >
               (SELECT 1.1 * sum(l_quantity) / count(DISTINCT l_suppkey)
                FROM lineitem)
        """
    )


@query(
    "report_promo_revenue",
    oracle="""
    SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                             THEN l_extendedprice * (1 - l_discount)
                             ELSE 0.0 END)
                 / sum(l_extendedprice * (1 - l_discount)) + 1e-9, 4)
             AS promo_pct
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-03-01'
      AND l_shipdate < TIMESTAMP '1997-04-01'
    """,
)
def report_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: share of one month's revenue from PROMO parts.
    Conditional aggregation over a broadcast dimension join — the
    month filter is pushed to the lineitem scan, part joins unhinted
    (AQE-broadcast at test SF, shuffle at part-table scale), and
    the two sums fold into ONE aggregate pass (a CASE inside sum, not
    two scans). Returns a single row."""
    lineitem = catalog.load(spark, sf_dir, "lineitem")
    part = catalog.load(spark, sf_dir, "part")
    lo = F.lit("1997-03-01").cast("timestamp")
    hi = F.lit("1997-04-01").cast("timestamp")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        lineitem.where((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            fround(100.0 * F.sum(promo) / F.sum(rev)).alias("promo_pct")
        )
    )
