"""Relational coverage queries on the TPC-H-ish testdata tables.

The reference has no relational surface at all (SURVEY.md section 2.9 — no
joins, sorts, set ops, or grouping sets); these queries exist so the engine is
a complete analytics substrate, and they double as the bench workload's
shuffle/join-heavy leg.

Cross-engine determinism rule: every monetary aggregate is computed in exact
DECIMAL arithmetic (associative — immune to partial-aggregation order) and
cast to DOUBLE only in the final projection, so Spark and DuckDB emit
bit-identical doubles regardless of partitioning. Plain double sums are used
only where the addends are integral (exact in IEEE754 below 2^53).

Scale notes per query are inline; the common theme: dimension tables
(region/nation/supplier, and customer after filters) are broadcast so the
only shuffles left are the orders<->lineitem co-partitioning and the final
aggregations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from amazon_kinesis_data_streams_health_check_spark.plans.registry import register
from amazon_kinesis_data_streams_health_check_spark.sources.tables import load_table, parallel_scan

# Exact-decimal building blocks (Spark side).
_PRICE = "CAST(l_extendedprice AS DECIMAL(18,2))"
_DISC = "CAST(l_discount AS DECIMAL(4,2))"
_TAX = "CAST(l_tax AS DECIMAL(4,2))"
_REVENUE = f"{_PRICE} * (CAST(1 AS DECIMAL(3,2)) - {_DISC})"
_CHARGE = f"{_REVENUE} * (CAST(1 AS DECIMAL(3,2)) + {_TAX})"

# ---------------------------------------------------------------------------
# Q1-style pricing summary: the scan+aggregate stress query.
# ---------------------------------------------------------------------------
_Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
       sum(l_quantity) AS sum_qty,
       CAST(sum({_PRICE}) AS DOUBLE) AS sum_base_price,
       CAST(sum({_REVENUE}) AS DOUBLE) AS sum_disc_price,
       CAST(sum({_CHARGE}) AS DOUBLE) AS sum_charge,
       sum(l_quantity) / count(*) AS avg_qty,
       CAST(sum({_PRICE}) AS DOUBLE) / count(*) AS avg_price,
       CAST(sum({_DISC}) AS DOUBLE) / count(*) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


@register(
    "q1_pricing_summary",
    oracle=_Q1_SQL,
    doc="Scan+aggregate: grouped sums/averages over lineitem with pushed-down date filter",
    tags=("relational", "bench"),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.sum(F.expr(_PRICE)).cast("double").alias("sum_base_price"),
        F.sum(F.expr(_REVENUE)).cast("double").alias("sum_disc_price"),
        F.sum(F.expr(_CHARGE)).cast("double").alias("sum_charge"),
        (F.sum("l_quantity") / F.count(F.lit(1))).alias("avg_qty"),
        (F.sum(F.expr(_PRICE)).cast("double") / F.count(F.lit(1))).alias("avg_price"),
        (F.sum(F.expr(_DISC)).cast("double") / F.count(F.lit(1))).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


# ---------------------------------------------------------------------------
# Q3-style shipping priority: 3-way join + top-k.
# ---------------------------------------------------------------------------
_Q3_SQL = f"""
SELECT l_orderkey,
       CAST(sum({_REVENUE}) AS DOUBLE) AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-06-01'
  AND l_shipdate  > TIMESTAMP '1997-06-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


@register(
    "q3_shipping_priority",
    oracle=_Q3_SQL,
    doc="3-way join (broadcast filtered customer) + grouped revenue + deterministic top-10",
    tags=("relational", "bench"),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-06-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-06-01").cast("timestamp")
    )
    # customer is ~1/5 of an already-small table after the segment filter:
    # broadcast it into orders, leaving one shuffle (orders<->lineitem).
    joined = li.join(
        orders.join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey")),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    return (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(F.expr(_REVENUE)).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Q5-style local-supplier revenue: 6-way join, dimension broadcast chain.
# ---------------------------------------------------------------------------
_Q5_SQL = f"""
SELECT n_name, CAST(sum({_REVENUE}) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n_name
"""


@register(
    "q5_local_supplier",
    oracle=_Q5_SQL,
    doc="6-way join: broadcast region/nation/supplier dims, customer-nation co-membership",
    tags=("relational", "bench"),
)
def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    # Dims (region->nation->supplier) collapse to a broadcastable supplier set;
    # the only large shuffle is orders<->lineitem.
    dims = supp.join(
        F.broadcast(nation.join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))),
        F.col("s_nationkey") == F.col("n_nationkey"),
    )
    joined = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(dims), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            cust,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
    )
    return joined.groupBy("n_name").agg(
        F.sum(F.expr(_REVENUE)).cast("double").alias("revenue")
    )


# ---------------------------------------------------------------------------
# Window ranking: top-3 suppliers per nation by account balance.
# ---------------------------------------------------------------------------
_TOPSUPP_SQL = """
SELECT n_name, s_name, s_acctbal, rk
FROM (
  SELECT n_name, s_name, s_acctbal,
         row_number() OVER (PARTITION BY n_nationkey ORDER BY s_acctbal DESC, s_suppkey) AS rk
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
) WHERE rk <= 3
"""


@register(
    "top_suppliers_per_nation",
    oracle=_TOPSUPP_SQL,
    doc="Window ranking (row_number, deterministic tiebreak) + broadcast dim join",
    tags=("relational",),
)
def top_suppliers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("n_nationkey").orderBy(F.desc("s_acctbal"), F.asc("s_suppkey"))
    return (
        supp.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select("n_name", "s_name", "s_acctbal", "rk")
    )


# ---------------------------------------------------------------------------
# Grouping sets: ROLLUP over returnflag/linestatus.
# ---------------------------------------------------------------------------
_ROLLUP_SQL = f"""
SELECT l_returnflag, l_linestatus,
       CAST(sum({_REVENUE}) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


@register(
    "revenue_rollup",
    oracle=_ROLLUP_SQL,
    doc="ROLLUP grouping sets with exact-decimal revenue",
    tags=("relational",),
)
def revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.sum(F.expr(_REVENUE)).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


_CUBE_SQL = f"""
SELECT o_orderpriority, CAST(year(o_orderdate) AS INTEGER) AS order_year,
       GROUPING(o_orderpriority) + 2 * GROUPING(year(o_orderdate)) AS gid,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       count(*) AS n_orders
FROM orders
GROUP BY CUBE (o_orderpriority, year(o_orderdate))
"""


@register(
    "revenue_cube",
    oracle=_CUBE_SQL,
    doc="CUBE grouping sets over (priority, year) with grouping_id "
    "disambiguation — the full 2^k Expand family (ROLLUP's is the prefix "
    "chain; see revenue_rollup)",
    tags=("relational",),
)
def revenue_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One scan, one Expand (4 grouping sets), one shuffle — subtotals of
    every dimension combination without re-scanning, which at 100 TB replaces
    four separate aggregation jobs."""
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate").cast("int")
    )
    return orders.cube("o_orderpriority", "order_year").agg(
        (
            F.grouping("o_orderpriority") + F.lit(2) * F.grouping("order_year")
        ).cast("long").alias("gid"),
        F.sum(F.expr("CAST(o_totalprice AS DECIMAL(18,2))"))
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    ).select("o_orderpriority", "order_year", "gid", "revenue", "n_orders")


# ---------------------------------------------------------------------------
# Set operations on the events table: (view ∩ purchase) − error users.
# ---------------------------------------------------------------------------
_SETOPS_SQL = """
SELECT user_id FROM (
  (SELECT user_id FROM events WHERE event_type = 'view'
   INTERSECT
   SELECT user_id FROM events WHERE event_type = 'purchase')
  EXCEPT
  SELECT user_id FROM events WHERE event_type = 'error'
)
"""


@register(
    "user_funnel_setops",
    oracle=_SETOPS_SQL,
    doc="INTERSECT / EXCEPT set operations over event-type user sets",
    tags=("relational",),
)
def user_funnel_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    by = lambda t: ev.filter(F.col("event_type") == t).select("user_id")  # noqa: E731
    return by("view").intersect(by("purchase")).subtract(by("error"))


# ---------------------------------------------------------------------------
# Anti join: customers with no orders, summarized by segment.
# ---------------------------------------------------------------------------
_NOORDERS_SQL = """
SELECT c_mktsegment,
       count(*) AS n_customers,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
FROM customer
ANTI JOIN orders ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


@register(
    "customers_without_orders",
    oracle=_NOORDERS_SQL,
    doc="Anti join (left_anti) + grouped exact-decimal aggregate",
    tags=("relational",),
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.expr("CAST(c_acctbal AS DECIMAL(18,2))")).cast("double").alias("total_acctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Semi join: orders having a deeply discounted line, counted by priority.
# ---------------------------------------------------------------------------
_SEMI_SQL = """
SELECT o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
SEMI JOIN lineitem ON l_orderkey = o_orderkey AND l_discount >= 0.06
GROUP BY o_orderpriority
"""


@register(
    "discounted_orders_by_priority",
    oracle=_SEMI_SQL,
    doc="Semi join (left_semi existence test) + grouped aggregate",
    tags=("relational",),
)
def discounted_orders_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_discount") >= 0.06)
    return (
        orders.join(li, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.expr("CAST(o_totalprice AS DECIMAL(18,2))")).cast("double").alias("total_price"),
        )
    )


# ---------------------------------------------------------------------------
# Pivot: per-user event-type counts (FILTER-aggregate twin on the SQL side).
# ---------------------------------------------------------------------------
_PIVOT_SQL = """
SELECT user_id,
       count(*) FILTER (WHERE event_type = 'view')     AS view,
       count(*) FILTER (WHERE event_type = 'click')    AS click,
       count(*) FILTER (WHERE event_type = 'signup')   AS signup,
       count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
       count(*) FILTER (WHERE event_type = 'error')    AS error
FROM events
GROUP BY user_id
"""

_EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]


@register(
    "user_event_pivot",
    oracle=_PIVOT_SQL,
    doc="Pivot (groupBy.pivot with pinned key list) == conditional FILTER aggregates",
    tags=("relational",),
)
def user_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # Pinned pivot values: no extra distinct-collection job, stable schema.
    out = ev.groupBy("user_id").pivot("event_type", _EVENT_TYPES).count()
    return out.fillna(0, subset=_EVENT_TYPES)


# ---------------------------------------------------------------------------
# Temporal joins the reference lacks (SURVEY.md section 2.9 explicit
# absences): as-of join, sessionization, range join. Timestamps are emitted
# as floored epoch seconds so both engines hash identically regardless of
# sub-second storage precision.
# ---------------------------------------------------------------------------
from amazon_kinesis_data_streams_health_check_spark.operators.temporal import (  # noqa: E402
    asof_join,
    range_join_buckets,
)

_ASOF_SQL = """
WITH v AS (
  SELECT user_id, ts, event_id, value FROM (
    SELECT user_id, ts, event_id, value,
           row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
    FROM events WHERE event_type = 'view'
  ) WHERE rn = 1
),
p AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id AS purchase_id,
       p.user_id,
       CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_epoch_s,
       v.event_id AS view_id,
       CAST(floor(epoch(v.ts)) AS BIGINT) AS view_epoch_s,
       CAST(floor(epoch(p.ts)) - floor(epoch(v.ts)) AS BIGINT) AS gap_s
FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
"""


@register(
    "asof_view_before_purchase",
    oracle=_ASOF_SQL,
    doc="As-of join: most recent prior 'view' per 'purchase' (union+window, "
    "one shuffle, no range explosion; DuckDB ASOF JOIN twin)",
    tags=("relational", "temporal", "bench"),
)
def asof_view_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    views = events.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", "value"
    )
    # Deterministic right side: one row per (user, ts), keep max event_id.
    rn = F.row_number().over(
        Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    )
    views = views.withColumn("_rn", rn).filter(F.col("_rn") == 1).drop("_rn")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    joined = asof_join(
        purchases, views, on=["user_id"], right_cols=["event_id"]
    )
    return joined.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.unix_timestamp("ts").alias("purchase_epoch_s"),
        F.col("asof_event_id").alias("view_id"),
        F.unix_timestamp("asof_ts").alias("view_epoch_s"),
        (F.unix_timestamp("ts") - F.unix_timestamp("asof_ts")).alias("gap_s"),
    )


_SESSIONS_SQL = """
WITH o AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT user_id,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start_s,
       CAST(floor(epoch(max(ts))) AS BIGINT) AS session_last_s,
       count(*) AS n_events
FROM s
GROUP BY user_id, sid
"""


@register(
    "user_sessions",
    oracle=_SESSIONS_SQL,
    doc="Sessionization: session_window(30 min gap) per user; DuckDB "
    "gaps-and-islands twin (streaming-liftable as-is)",
    tags=("relational", "temporal", "bench"),
)
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.unix_timestamp(F.min("ts")).alias("session_start_s"),
            F.unix_timestamp(F.max("ts")).alias("session_last_s"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "session_start_s", "session_last_s", "n_events")
    )


_RANGE_FUNNEL_SQL = """
SELECT v.event_id AS view_id,
       p.event_id AS purchase_id,
       v.user_id,
       CAST(floor(epoch(p.ts)) - floor(epoch(v.ts)) AS BIGINT) AS gap_s
FROM events v
JOIN events p
  ON v.user_id = p.user_id
 AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 10 MINUTE
WHERE v.event_type = 'view' AND p.event_type = 'purchase'
"""


@register(
    "range_join_funnel",
    oracle=_RANGE_FUNNEL_SQL,
    doc="Range join: view->purchase conversions within 10 min, bucketized "
    "equi-join (linear shuffle; Spark's native fallback is nested-loop)",
    tags=("relational", "temporal"),
)
def range_join_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    views = events.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("vts"), F.col("event_id").alias("view_id")
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts"), F.col("event_id").alias("purchase_id")
    )
    joined = range_join_buckets(
        views, purchases, on=["user_id"], left_ts="vts", right_ts="pts", window_seconds=600
    )
    return joined.select(
        "view_id",
        "purchase_id",
        "user_id",
        (F.unix_timestamp("pts") - F.unix_timestamp("vts")).alias("gap_s"),
    )


# ---------------------------------------------------------------------------
# Ordered-statistic aggregation: exact interpolated percentiles (identical
# linear-interpolation definition in Spark `percentile` and DuckDB
# `quantile_cont`) + a sketch twin (approx_count_distinct) kept rows-only
# because HLL implementations differ across engines.
# ---------------------------------------------------------------------------
_PCTL_SQL = """
SELECT event_type,
       count(*) AS n,
       round(quantile_cont(value, 0.25), 6) AS p25,
       round(quantile_cont(value, 0.50), 6) AS p50,
       round(quantile_cont(value, 0.90), 6) AS p90,
       round(quantile_cont(value, 0.99), 6) AS p99
FROM events
GROUP BY event_type
"""


@register(
    "value_percentiles",
    oracle=_PCTL_SQL,
    doc="Exact interpolated percentiles per event type (sort-based ordered-set "
    "aggregate; the approx sketch path is event_sketches)",
    tags=("relational",),
)
def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.expr("percentile(value, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(value, 0.50)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.90)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


_SKETCH_SQL = """
SELECT event_type,
       count(*) AS n_rows,
       count(DISTINCT user_id) AS exact_users,
       TRUE AS users_est_ok,
       TRUE AS p50_est_ok,
       TRUE AS p99_est_ok
FROM events
GROUP BY event_type
"""


@register(
    "event_sketches",
    oracle=_SKETCH_SQL,
    doc="Sketch aggregates: approx_count_distinct (HLL++) and approx_percentile "
    "checked against exact twins via an accuracy CONTRACT (raw estimates are "
    "engine-specific; the error-bound booleans are not)",
    tags=("relational",),
)
def event_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At 100 TB the exact percentile sort is the bottleneck; these sketches
    are mergeable, constant-memory, and partial-aggregate map-side.

    Cross-engine story: HLL++/QuantileSummaries estimates have no bit-equal
    DuckDB twin, so the query emits (a) exact values the oracle hash-checks
    and (b) booleans asserting each estimate sits inside its published error
    envelope — approx_count_distinct(rsd=0.01) within 5% of the exact count
    (5 sigma), approx_percentile(accuracy=10000, rank error 1e-4) inside the
    exact [p45, p55] / [p94, max] value band. The oracle emits literal TRUE,
    so a sketch drifting out of contract hash-mismatches. The exact twins
    exist only for this contract; the 100 TB deployment runs the sketch
    columns alone (see sketch_rollup_merge for the mergeable pre-agg form).

    Plan note: count(DISTINCT) must NOT share a groupBy with the typed-
    imperative sketch aggregates — Spark rewrites that mix as a pre-group on
    (event_type, user_id) and then MERGES a percentile/HLL state per
    distinct user (~|users| sketch merges, 8x slower here). The distinct
    count runs in its own two-phase aggregation and joins back on the tiny
    event_type key set."""
    events = load_table(spark, sf_dir, "events")
    sketches = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.approx_count_distinct("user_id", 0.01).alias("_approx_users"),
        F.expr("approx_percentile(value, array(0.5, 0.99), 10000)").alias("_ap"),
        F.expr("percentile(value, array(0.45, 0.55, 0.94))").alias("_ep"),
    )
    exact = events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    agg = sketches.join(exact, "event_type")
    return agg.select(
        "event_type",
        "n_rows",
        "exact_users",
        (
            F.abs(F.col("_approx_users") - F.col("exact_users"))
            <= F.col("exact_users") * F.lit(0.05)
        ).alias("users_est_ok"),
        (
            (F.col("_ap")[0] >= F.col("_ep")[0]) & (F.col("_ap")[0] <= F.col("_ep")[1])
        ).alias("p50_est_ok"),
        (F.col("_ap")[1] >= F.col("_ep")[2]).alias("p99_est_ok"),
    )


# ---------------------------------------------------------------------------
# Skew-resilient aggregation: salted two-phase count-distinct (identical
# results to the direct aggregation — the oracle IS the direct form).
# ---------------------------------------------------------------------------
from amazon_kinesis_data_streams_health_check_spark.functions.skew import (  # noqa: E402
    salted_agg,
    salted_count_distinct,
)

_SKEW_SQL = """
SELECT event_type,
       count(*) AS n_rows,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY event_type
"""


@register(
    "skew_resilient_user_counts",
    oracle=_SKEW_SQL,
    doc="Salted two-phase aggregation: hot keys spread over 64 salt buckets "
    "before the per-key merge; results identical to the direct group-by",
    tags=("relational",),
)
def skew_resilient_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    counts = salted_agg(
        events.select("event_type"),
        ["event_type"],
        [F.count(F.lit(1)).alias("c")],
        [F.sum("c").cast("long").alias("n_rows")],
    )
    distinct = salted_count_distinct(
        events.select("event_type", "user_id"), ["event_type"], "user_id", "n_users"
    )
    return counts.join(distinct, "event_type")


# ---------------------------------------------------------------------------
# Correlated scalar subquery (TPC-H Q17 shape): lineitems below 20% of their
# part's average quantity. Spark expresses the decorrelated form directly —
# a per-part aggregate broadcast back onto the fact table — which is exactly
# what a subquery decorrelator would produce.
# ---------------------------------------------------------------------------
_Q17_SQL = f"""
SELECT l.l_partkey AS partkey,
       count(*) AS n_small,
       CAST(sum({_PRICE.replace('l_', 'l.l_')}) AS DOUBLE) AS small_revenue
FROM lineitem l
WHERE l.l_quantity * 5 * (
  SELECT count(*) FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey
) < (
  SELECT sum(l3.l_quantity) FROM lineitem l3 WHERE l3.l_partkey = l.l_partkey
)
GROUP BY l.l_partkey
"""


@register(
    "small_quantity_revenue",
    oracle=_Q17_SQL,
    doc="Correlated scalar subquery (Q17 shape), decorrelated to a broadcast "
    "per-key aggregate join",
    tags=("relational",),
)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    # Exact-rational threshold: avg as sum/count decimals, compare
    # l_quantity * 5 * count < sum (integer-ish cross-multiplication) to
    # avoid double rounding at the boundary in either engine.
    per_part = lineitem.groupBy("l_partkey").agg(
        F.sum("l_quantity").alias("qty_sum"), F.count(F.lit(1)).alias("qty_n")
    )
    joined = lineitem.join(F.broadcast(per_part), "l_partkey")
    small = joined.filter(F.col("l_quantity") * 5 * F.col("qty_n") < F.col("qty_sum"))
    return small.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.count(F.lit(1)).alias("n_small"),
        F.sum(F.expr(_PRICE)).cast("double").alias("small_revenue"),
    )


# ---------------------------------------------------------------------------
# Q18 shape: large-volume orders — HAVING subquery as a semi-join of an
# aggregate, then customer/orders/lineitem join and a fully tie-broken
# deterministic top-100.
# ---------------------------------------------------------------------------
_Q18_QTY = 250

_Q18_SQL = f"""
WITH big AS (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > {_Q18_QTY}
)
SELECT c.c_name, c.c_custkey, o.o_orderkey,
       CAST(floor(epoch(o.o_orderdate)) AS BIGINT) AS order_epoch_s,
       CAST(o.o_totalprice AS DOUBLE) AS o_totalprice,
       sum(l.l_quantity) AS total_qty
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
GROUP BY 1, 2, 3, 4, 5
ORDER BY o_totalprice DESC, order_epoch_s, o.o_orderkey
LIMIT 100
"""


@register(
    "q18_large_volume_customers",
    oracle=_Q18_SQL,
    doc="Q18 shape: HAVING-subquery semi-join + 3-way join + deterministic "
    "top-100 (TakeOrderedAndProject, no global sort)",
    tags=("relational", "bench"),
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > _Q18_QTY)
        .select("l_orderkey")
    )
    joined = (
        orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey, "left_semi")
        .join(F.broadcast(customer), F.col("c_custkey") == F.col("o_custkey"))
        .join(lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
    )
    agg = joined.groupBy(
        "c_name",
        "c_custkey",
        "o_orderkey",
        F.unix_timestamp("o_orderdate").alias("order_epoch_s"),
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    ).agg(F.sum("l_quantity").alias("total_qty"))
    return agg.orderBy(
        F.desc("o_totalprice"), F.asc("order_epoch_s"), F.asc("o_orderkey")
    ).limit(100)


# ---------------------------------------------------------------------------
# Q21 shape (adapted: no commit/receipt dates in this schema — "late" is
# shipping >60 days after the order date): suppliers who were the SOLE late
# shipper of a multi-supplier order. Exercises correlated EXISTS (semi self-
# join) + NOT EXISTS (anti self-join) on the fact table.
# ---------------------------------------------------------------------------
_Q21_SQL = """
WITH pairs AS (
  SELECT DISTINCT l.l_orderkey, l.l_suppkey,
         bool_or(l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY) AS is_late
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
)
SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
FROM pairs p1
JOIN supplier s ON s.s_suppkey = p1.l_suppkey
WHERE p1.is_late
  AND EXISTS (SELECT 1 FROM pairs p2
              WHERE p2.l_orderkey = p1.l_orderkey AND p2.l_suppkey <> p1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM pairs p3
                  WHERE p3.l_orderkey = p1.l_orderkey
                    AND p3.l_suppkey <> p1.l_suppkey AND p3.is_late)
GROUP BY s.s_name
"""


@register(
    "q21_sole_late_suppliers",
    oracle=_Q21_SQL,
    doc="Q21 shape: semi (EXISTS) + anti (NOT EXISTS) self-joins on the fact "
    "table — sole late shipper of multi-supplier orders",
    tags=("relational",),
)
def q21_sole_late_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supplier = load_table(spark, sf_dir, "supplier")
    pairs = (
        lineitem.join(
            F.broadcast(orders.select("o_orderkey", "o_orderdate")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
            ).alias("is_late")
        )
    )
    p1 = pairs.filter(F.col("is_late")).select("l_orderkey", "l_suppkey")
    p2 = pairs.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
    )
    p3 = pairs.filter(F.col("is_late")).select(
        F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3")
    )
    multi = p1.join(
        p2,
        (F.col("l_orderkey") == F.col("o2")) & (F.col("l_suppkey") != F.col("s2")),
        "left_semi",
    )
    sole_late = multi.join(
        p3,
        (F.col("l_orderkey") == F.col("o3")) & (F.col("l_suppkey") != F.col("s3")),
        "left_anti",
    )
    return (
        sole_late.join(F.broadcast(supplier), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
    )


# ---------------------------------------------------------------------------
# RANGE-frame window family: interval-based moving aggregates over a daily
# series (gaps matter: a rows-frame would be wrong on missing days).
# Revenue is summed in exact integer cents so every engine's partial-sum
# order produces identical doubles after the single final division.
# ---------------------------------------------------------------------------
_MOVING_SQL = """
WITH daily AS (
  SELECT o_orderpriority AS priority,
         CAST(floor(epoch(date_trunc('day', o_orderdate))) AS BIGINT) AS day_s,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
         count(*) AS n_orders
  FROM orders
  GROUP BY 1, 2
)
SELECT priority, day_s, n_orders,
       round(cents / 100.0, 2) AS revenue,
       round(CAST(sum(cents) OVER w AS DOUBLE)
             / (100.0 * count(*) OVER w), 6) AS revenue_7d_ma,
       count(*) OVER w AS n_days_in_window
FROM daily
WINDOW w AS (PARTITION BY priority ORDER BY day_s
             RANGE BETWEEN 518400 PRECEDING AND CURRENT ROW)
"""


@register(
    "revenue_moving_window",
    oracle=_MOVING_SQL,
    doc="RANGE-frame (interval) window: per-priority 7-day moving average of "
    "daily revenue — gap-correct (unlike a rows frame), integer-cents exact",
    tags=("relational", "temporal"),
)
def revenue_moving_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one keyed daily pre-aggregation (map-side partial), then a
    range-frame window PARTITIONED by priority — each key's series sorts
    independently; nothing ever lands on a single global partition. The frame
    is expressed over epoch seconds, which both engines range-compare
    identically."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.unix_timestamp(F.date_trunc("day", "o_orderdate")).alias("day_s"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w = (
        Window.partitionBy("priority")
        .orderBy("day_s")
        .rangeBetween(-6 * 86400, Window.currentRow)
    )
    return daily.select(
        "priority",
        "day_s",
        "n_orders",
        F.round(F.col("cents") / 100.0, 2).alias("revenue"),
        F.round(
            F.sum("cents").over(w).cast("double")
            / (F.lit(100.0) * F.count(F.lit(1)).over(w)),
            6,
        ).alias("revenue_7d_ma"),
        F.count(F.lit(1)).over(w).alias("n_days_in_window"),
    )


# ---------------------------------------------------------------------------
# Data-quality expectations: declarative rules -> violation metrics (the
# Delta-Live-expectations / ingest-gate pattern; operators/quality.py).
# ---------------------------------------------------------------------------
_DQ_RULES_SQL = {
    "value_in_unit_range": "value >= 0 AND value <= 50",
    "user_present": "user_id IS NOT NULL",
    "known_event_type": "event_type IN ('click','signup','error','view','purchase')",
    "ts_in_jan_2024": "ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'",
}

_DQ_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{name}' AS rule, count(*) AS n_rows,
       CAST(sum(CASE WHEN COALESCE(({pred}), FALSE) THEN 0 ELSE 1 END) AS BIGINT) AS n_violations,
       round(CAST(sum(CASE WHEN COALESCE(({pred}), FALSE) THEN 0 ELSE 1 END) AS DOUBLE)
             / count(*), 6) AS violation_rate
FROM events"""
    for name, pred in _DQ_RULES_SQL.items()
)


@register(
    "dq_violations",
    oracle=_DQ_SQL,
    doc="Data-quality expectations over events: per-rule violation counts and "
    "rates in one scan-bound pass (operators/quality.check_expectations)",
    tags=("relational", "quality"),
)
def dq_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amazon_kinesis_data_streams_health_check_spark.operators.quality import (
        check_expectations,
    )

    events = load_table(spark, sf_dir, "events")
    return check_expectations(events, dict(_DQ_RULES_SQL))


_SKEW_JOIN_SQL = """
WITH profile AS (
  SELECT user_id, count(*) AS n_events_user FROM events GROUP BY user_id
)
SELECT e.event_id, e.user_id, e.event_type, p.n_events_user
FROM events e JOIN profile p USING (user_id)
"""


@register(
    "skew_salted_join",
    oracle=_SKEW_JOIN_SQL,
    doc="Salted shuffle join: fact side salted, dim side replicated per salt "
    "(functions/skew.salted_join) — hot join keys spread over N reducers; "
    "result identical to the plain join (the oracle IS the plain join)",
    tags=("relational", "skew"),
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amazon_kinesis_data_streams_health_check_spark.functions.skew import (
        salted_join,
    )

    events = load_table(spark, sf_dir, "events")
    profile = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events_user"))
    fact = events.select("event_id", "user_id", "event_type")
    return salted_join(fact, profile, ["user_id"]).select(
        "event_id", "user_id", "event_type", "n_events_user"
    )


# ---------------------------------------------------------------------------
# Semi-structured round trip: build nested JSON documents (one per user, items
# sorted for determinism), then SHRED them back to relational rows with
# from_json + explode. The oracle is the identity — the flat rows themselves —
# so any loss or corruption in serialize->parse->flatten hash-mismatches.
# ---------------------------------------------------------------------------
_SHRED_SQL = """
SELECT user_id, event_id, event_type, value FROM events
"""

_SHRED_SCHEMA = (
    "uid bigint, "
    "items array<struct<event_id:bigint,event_type:string,value:double>>"
)


@register(
    "json_shred_roundtrip",
    oracle=_SHRED_SQL,
    doc="Semi-structured: nested JSON docs (user -> sorted item array) shredded "
    "back to rows via from_json + explode; oracle = the identity, so the whole "
    "serialize->parse->flatten path must be lossless",
    tags=("relational", "json"),
)
def json_shred_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: doc assembly is one keyed collect (bounded per user),
    shredding is narrow per-doc work (from_json + explode stay in codegen's
    generated parser) — the standard log-ingest pattern where upstream hands
    you documents and the lake wants columns. Doubles round-trip exactly
    (Jackson shortest-repr print, exact parse)."""
    events = load_table(spark, sf_dir, "events")
    docs = events.groupBy("user_id").agg(
        F.to_json(
            F.struct(
                F.col("user_id").alias("uid"),
                F.array_sort(
                    F.collect_list(F.struct("event_id", "event_type", "value"))
                ).alias("items"),
            )
        ).alias("doc")
    )
    shred = docs.select(F.from_json("doc", _SHRED_SCHEMA).alias("j"))
    return shred.select(
        F.col("j.uid").alias("user_id"), F.explode("j.items").alias("it")
    ).select("user_id", "it.event_id", "it.event_type", "it.value")


# ---------------------------------------------------------------------------
# UNPIVOT (wide -> long) via stack(): the melt operation reshaping a measure
# matrix into (measure, value) rows — summarized per measure in exact cents.
# ---------------------------------------------------------------------------
_UNPIVOT_SQL = """
WITH long AS (
  SELECT 'quantity' AS measure, CAST(l_quantity AS DOUBLE) AS val FROM lineitem
  UNION ALL
  SELECT 'extendedprice', CAST(l_extendedprice AS DOUBLE) FROM lineitem
  UNION ALL
  SELECT 'discount', CAST(l_discount AS DOUBLE) FROM lineitem
  UNION ALL
  SELECT 'tax', CAST(l_tax AS DOUBLE) FROM lineitem
)
SELECT measure,
       CAST(count(*) AS BIGINT) AS n,
       round(min(val), 2) AS min_val,
       round(max(val), 2) AS max_val,
       round(CAST(sum(CAST(round(val * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2)
         AS sum_val
FROM long GROUP BY measure
"""


@register(
    "lineitem_measures_unpivot",
    oracle=_UNPIVOT_SQL,
    doc="UNPIVOT family: stack() melts 4 lineitem measures into long form, "
    "then per-measure stats (integer-cents sums keep engines identical); "
    "oracle is the UNION ALL formulation",
    tags=("relational",),
)
def lineitem_measures_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: ``stack`` is a Generate (narrow, codegen'd) — the fact
    table is scanned ONCE for all four measures, where the UNION ALL oracle
    formulation scans it four times; the only shuffle is the 4-key final
    aggregation with map-side partials."""
    li = load_table(spark, sf_dir, "lineitem")
    long = li.select(
        F.expr(
            "stack(4, 'quantity', CAST(l_quantity AS DOUBLE), "
            "'extendedprice', CAST(l_extendedprice AS DOUBLE), "
            "'discount', CAST(l_discount AS DOUBLE), "
            "'tax', CAST(l_tax AS DOUBLE)) AS (measure, val)"
        )
    )
    return long.groupBy("measure").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.min("val"), 2).alias("min_val"),
        F.round(F.max("val"), 2).alias("max_val"),
        F.round(
            F.sum(F.round(F.col("val") * 100).cast("long")).cast("double") / 100.0,
            2,
        ).alias("sum_val"),
    )


# ---------------------------------------------------------------------------
# Exact distributed correlation: Pearson r per (returnflag, linestatus) from
# DECIMAL(38) sums of integer cents — the float-free way to make a
# reduction-order-sensitive statistic engine-identical. Spark's corr() (and
# DuckDB's) accumulate doubles in partition order, so their last bits differ
# run to run; here every aggregate is an exact integer, and the only float
# math is one final fixed-shape expression over those integers.
# ---------------------------------------------------------------------------
_CORR_SQL = """
WITH s AS (
  SELECT l_returnflag, l_linestatus,
         CAST(count(*) AS DECIMAL(38,0)) AS n,
         sum(CAST(CAST(l_quantity AS BIGINT) AS DECIMAL(38,0))) AS sx,
         sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DECIMAL(38,0))) AS sy,
         sum(CAST(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT) AS DECIMAL(38,0))) AS sxx,
         sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                  * CAST(round(l_extendedprice * 100) AS BIGINT) AS DECIMAL(38,0))) AS syy,
         sum(CAST(CAST(l_quantity AS BIGINT)
                  * CAST(round(l_extendedprice * 100) AS BIGINT) AS DECIMAL(38,0))) AS sxy
  FROM lineitem GROUP BY l_returnflag, l_linestatus
)
SELECT l_returnflag, l_linestatus,
       CAST(n AS BIGINT) AS n_rows,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS corr_qty_price,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * n AS DOUBLE) / 100.0, 6) AS cov_pop_qty_price
FROM s
"""


@register(
    "lineitem_corr_exact",
    oracle=_CORR_SQL,
    doc="Correlation/covariance family with EXACT distributed math: Pearson "
    "r and population covariance of (quantity, price) per flag/status from "
    "DECIMAL(38) sums of integer cents — reduction-order-free, so both "
    "engines produce identical doubles (built-in corr() cannot promise that)",
    tags=("relational",),
)
def lineitem_corr_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one partial-aggregatable keyed aggregation (decimal sums
    combine exactly in any order — that is the point), 4-key group; the
    final r/cov expressions are per-group scalar math. The idiom generalizes
    to any moment statistic a 1000-executor job must reproduce bit-for-bit
    across retries and partitionings."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("bigint")
    y = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    dec = "decimal(38,0)"
    s = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(x.cast(dec)).alias("sx"),
        F.sum(y.cast(dec)).alias("sy"),
        F.sum((x * x).cast(dec)).alias("sxx"),
        F.sum((y * y).cast(dec)).alias("syy"),
        F.sum((x * y).cast(dec)).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    denx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    deny = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return s.select(
        "l_returnflag",
        "l_linestatus",
        F.col("n").cast("long").alias("n_rows"),
        F.round(num / F.sqrt(denx * deny), 6).alias("corr_qty_price"),
        F.round(
            num / (F.col("n") * F.col("n")).cast("double") / 100.0, 6
        ).alias("cov_pop_qty_price"),
    )


# ---------------------------------------------------------------------------
# Time-bucketed histogram: hour-of-day x fixed-width value buckets — the
# profiling rollup behind ingestion dashboards. All-integer bucketing.
# ---------------------------------------------------------------------------
_HIST_BUCKET_WIDTH = 50

_TIME_HIST_SQL = f"""
SELECT event_type,
       CAST(hour(ts) AS BIGINT) AS hr,
       CAST(floor(value / {_HIST_BUCKET_WIDTH}) AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS DOUBLE)
             / 1000000.0, 6) AS sum_value
FROM events
GROUP BY event_type, hr, bucket
"""


@register(
    "event_time_histogram",
    oracle=_TIME_HIST_SQL,
    doc="Histogram family: hour-of-day x fixed-width value-bucket counts "
    "per event type (integer bucketing, micro-unit exact sums) — the "
    "ingestion-profiling rollup",
    tags=("relational",),
)
def event_time_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: scan -> one keyed aggregation with map-side partials;
    bucket keys are bounded (types x 24 x value-range/width) so the final
    exchange moves a constant-size result regardless of input size."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type",
        F.hour("ts").cast("long").alias("hr"),
        F.floor(F.col("value") / _HIST_BUCKET_WIDTH).cast("long").alias("bucket"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(
            F.sum(F.round(F.col("value") * 1e6).cast("long")).cast("double") / 1e6,
            6,
        ).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# Explicit GROUPING SETS (the general form rollup/cube specialize).
# ---------------------------------------------------------------------------
_GSETS_SQL = """
SELECT o_orderpriority,
       CAST(year(o_orderdate) AS BIGINT) AS yr,
       CAST(grouping(o_orderpriority) * 2 + grouping(year(o_orderdate)) AS BIGINT)
         AS gid,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority), (year(o_orderdate)), ())
"""


@register(
    "revenue_grouping_sets",
    oracle=_GSETS_SQL,
    doc="Explicit GROUPING SETS ((priority), (year), ()) with grouping() "
    "flags — the general aggregation-lattice form that rollup/cube "
    "specialize; integer-cents exact",
    tags=("relational",),
)
def revenue_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one Expand (3 grouping sets) + one keyed aggregation —
    same single-shuffle structure as rollup/cube; output cardinality is the
    sum of the lattice levels, not their product."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("_gs_orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(year(o_orderdate) AS BIGINT) AS yr,
               CAST(grouping(o_orderpriority) * 2
                    + grouping(year(o_orderdate)) AS BIGINT) AS gid,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS cents
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderpriority), (year(o_orderdate)), ())
        """
    )


# ---------------------------------------------------------------------------
# Positional window family: first_value / last_value / nth_value + min_by /
# max_by over a unique per-user event order.
# ---------------------------------------------------------------------------
_FIRST_LAST_SQL = """
WITH w AS (
  SELECT user_id, event_type, event_id, value,
         first_value(event_type) OVER uw AS first_type,
         last_value(event_type) OVER uw AS last_type,
         nth_value(event_type, 2) OVER uw AS second_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC)
           AS rn
  FROM events
  WINDOW uw AS (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
  )
),
mm AS (
  -- DuckDB's min_by/max_by lack struct order keys; the struct-min idiom is
  -- the same argmin-with-unique-tie-break, expressed orderably.
  SELECT user_id,
         min({'v': value, 'i': event_id}).i AS min_value_event,
         max({'v': value, 'i': event_id}).i AS max_value_event,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY user_id
)
SELECT w.user_id, w.first_type, w.last_type, w.second_type,
       mm.min_value_event, mm.max_value_event, mm.n_events
FROM w JOIN mm ON w.user_id = mm.user_id
WHERE w.rn = 1
"""


@register(
    "user_first_last_events",
    oracle=_FIRST_LAST_SQL,
    doc="Positional window family: first/last/nth event type per user over "
    "the unique (ts, event_id) order, plus min_by/max_by with a unique "
    "struct order key (the tie-break that makes argmin/argmax deterministic)",
    tags=("relational",),
)
def user_first_last_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one window + one aggregation, both keyed on user_id
    (uniform key); the unbounded frame materializes per-partition ordered
    state exactly once. min_by/max_by use struct(value, event_id) order keys
    — without the unique tie-break, ties make argmin nondeterministic on ANY
    engine, which is the bug this query's oracle would catch."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    uw = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    rw = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    w = ev.select(
        "user_id",
        F.first("event_type").over(uw).alias("first_type"),
        F.last("event_type").over(uw).alias("last_type"),
        F.nth_value("event_type", 2).over(uw).alias("second_type"),
        F.row_number().over(rw).alias("rn"),
    ).filter(F.col("rn") == 1)
    mm = ev.groupBy("user_id").agg(
        F.min_by("event_id", F.struct("value", "event_id")).alias(
            "min_value_event"
        ),
        F.max_by("event_id", F.struct("value", "event_id")).alias(
            "max_value_event"
        ),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    return w.join(mm, "user_id").select(
        "user_id",
        "first_type",
        "last_type",
        "second_type",
        "min_value_event",
        "max_value_event",
        "n_events",
    )


# ---------------------------------------------------------------------------
# Raw-SQL surface: the same engine through spark.sql over registered views.
# ---------------------------------------------------------------------------
_SQL_SURFACE = """
SELECT l_returnflag,
       l_linestatus,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                     AS BIGINT)) AS BIGINT) AS revenue_cents,
       CAST(min(l_quantity) AS BIGINT) AS min_qty,
       CAST(max(l_quantity) AS BIGINT) AS max_qty
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register(
    "sql_surface_revenue",
    # The SAME SQL text runs on both engines — the oracle IS the query.
    oracle=_SQL_SURFACE,
    doc="Raw-SQL user surface: spark.sql() over registered temp views runs "
    "the identical ANSI text DuckDB runs (engine-portable SQL in, "
    "hash-identical answers out) — integer-cents revenue keeps the sum "
    "order-free",
    tags=("relational", "sql"),
)
def sql_surface_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY.md section 2.9: the reference exposes no SQL surface; this
    engine gets one free — ``load_table`` + ``createOrReplaceTempView`` +
    ``spark.sql`` with the exact oracle text. Catalyst still owns pushdown/
    pruning (the WHERE reaches the parquet scan like the DataFrame twin
    q6's does)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_SQL_SURFACE)


# ---------------------------------------------------------------------------
# Cross-table reconciliation: does the order header's total match the sum of
# its line items? The classic warehouse DQ invariant (dq_violations covers
# single-table rules; this is the join-shaped audit). Per-LINE cent
# conversion makes the aggregation order-free — summing raw doubles per
# order would be partition-order-dependent and could never hash-match.
# ---------------------------------------------------------------------------
_RECON_SQL = """
WITH line_cents AS (
  SELECT l_orderkey,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100)
                       AS BIGINT)) AS BIGINT) AS computed_cents
  FROM lineitem GROUP BY l_orderkey
)
SELECT o.o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CASE WHEN CAST(round(o.o_totalprice * 100) AS BIGINT)
                          <> lc.computed_cents THEN 1 ELSE 0 END) AS BIGINT)
         AS n_mismatch,
       CAST(max(abs(CAST(round(o.o_totalprice * 100) AS BIGINT)
                    - lc.computed_cents)) AS BIGINT) AS max_drift_cents,
       CAST(sum(abs(CAST(round(o.o_totalprice * 100) AS BIGINT)
                    - lc.computed_cents)) AS BIGINT) AS sum_drift_cents
FROM orders o JOIN line_cents lc ON lc.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
"""


@register(
    "order_reconciliation",
    oracle=_RECON_SQL,
    doc="Cross-table DQ reconciliation: order-header total vs cent-exact "
    "sum of its line items (per-line rounding, order-free BIGINT sums), "
    "mismatch counts and drift magnitude per priority",
    tags=("relational", "quality"),
)
def order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one keyed BIGINT aggregation over lineitem, one shuffle
    join on the uniform order key, one small keyed rollup. Every arithmetic
    step is either a correctly-rounded single double op (identical on any
    engine) or BIGINT — the reconciliation verdict cannot flip with
    partitioning, retries, or cluster size."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    line_cents = li.groupBy("l_orderkey").agg(
        F.sum(
            F.round(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
                * 100
            ).cast("long")
        )
        .cast("long")
        .alias("computed_cents")
    )
    o_cents = F.round(F.col("o_totalprice") * 100).cast("long")
    joined = orders.join(
        line_cents, orders["o_orderkey"] == line_cents["l_orderkey"]
    ).select(
        "o_orderpriority",
        o_cents.alias("header_cents"),
        "computed_cents",
    )
    drift = F.abs(F.col("header_cents") - F.col("computed_cents"))
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum((F.col("header_cents") != F.col("computed_cents")).cast("int"))
        .cast("long")
        .alias("n_mismatch"),
        F.max(drift).cast("long").alias("max_drift_cents"),
        F.sum(drift).cast("long").alias("sum_drift_cents"),
    )


# ---------------------------------------------------------------------------
# Market-basket association rules: pairwise co-occurrence with support /
# confidence / lift over per-order part baskets.
# ---------------------------------------------------------------------------
_BASKET_MIN_SUPPORT = 2
_BASKET_TOP = 50

_BASKET_SQL = f"""
WITH di AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_baskets FROM di),
ic AS (SELECT l_partkey AS p, CAST(count(*) AS BIGINT) AS c FROM di GROUP BY 1),
pc AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(count(*) AS BIGINT) AS c_ab
  FROM di a JOIN di b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= {_BASKET_MIN_SUPPORT}
)
SELECT part_a, part_b, ia.c AS c_a, ib.c AS c_b, c_ab, n.n_baskets,
       round(CAST(c_ab AS DOUBLE) / n.n_baskets, 6) AS support,
       round(CAST(c_ab AS DOUBLE) / ia.c, 6) AS conf_a_to_b,
       round(CAST(c_ab AS DOUBLE) / ib.c, 6) AS conf_b_to_a,
       round(CAST(c_ab AS DOUBLE) * n.n_baskets
             / (CAST(ia.c AS DOUBLE) * ib.c), 6) AS lift
FROM pc
JOIN ic ia ON ia.p = part_a
JOIN ic ib ON ib.p = part_b
CROSS JOIN n
ORDER BY lift DESC, part_a, part_b
LIMIT {_BASKET_TOP}
"""


@register(
    "market_basket_rules",
    oracle=_BASKET_SQL,
    doc="Market-basket association rules: per-order part baskets -> pairwise "
    f"co-occurrence counts (support >= {_BASKET_MIN_SUPPORT}) -> support / "
    f"confidence both ways / lift, top {_BASKET_TOP} by lift",
    tags=("relational",),
)
def market_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: pair generation is NARROW — baskets are collected per
    order (bounded by order size, ~4-7 lines in this schema) and in-order
    pairs come from one array comprehension, so there is no item-level
    self-join shuffle; the DuckDB twin uses the textbook self-join instead,
    which proves the narrow rewrite semantically. Item counts are a
    |parts|-row dimension joined onto pair counts (broadcast-eligible), the
    basket total is a broadcast scalar, and the final top-N is
    TakeOrderedAndProject — every metric derives from exact BIGINT counts,
    so support/confidence/lift are single IEEE ops with one rounding,
    bit-identical cross-engine."""
    li = load_table(spark, sf_dir, "lineitem")
    di = li.select("l_orderkey", "l_partkey").distinct()
    baskets = di.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(parts, (x, i) ->"
                " transform(slice(parts, i + 2, size(parts)),"
                " y -> struct(x AS part_a, y AS part_b))))"
            )
        ).alias("pr")
    ).select("pr.part_a", "pr.part_b")
    pc = (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
        .filter(F.col("c_ab") >= _BASKET_MIN_SUPPORT)
    )
    ic = di.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("long").alias("c"))
    n = baskets.agg(F.count(F.lit(1)).cast("long").alias("n_baskets"))
    enriched = (
        pc.join(
            F.broadcast(ic.select(F.col("l_partkey").alias("part_a"), F.col("c").alias("c_a"))),
            "part_a",
        )
        .join(
            F.broadcast(ic.select(F.col("l_partkey").alias("part_b"), F.col("c").alias("c_b"))),
            "part_b",
        )
        .crossJoin(F.broadcast(n))
    )
    c_ab_d = F.col("c_ab").cast("double")
    return (
        enriched.select(
            "part_a",
            "part_b",
            "c_a",
            "c_b",
            "c_ab",
            "n_baskets",
            F.round(c_ab_d / F.col("n_baskets"), 6).alias("support"),
            F.round(c_ab_d / F.col("c_a"), 6).alias("conf_a_to_b"),
            F.round(c_ab_d / F.col("c_b"), 6).alias("conf_b_to_a"),
            F.round(
                c_ab_d * F.col("n_baskets")
                / (F.col("c_a").cast("double") * F.col("c_b")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "part_a", "part_b")
        .limit(_BASKET_TOP)
    )


# ---------------------------------------------------------------------------
# Sketch set-algebra: audience-overlap estimation via HLL inclusion-exclusion,
# accuracy-contract checked against the exact intersection.
# ---------------------------------------------------------------------------
_INTERSECT_SQL = """
WITH di AS (SELECT DISTINCT user_id, event_type FROM events),
ic AS (SELECT event_type, CAST(count(*) AS BIGINT) AS c FROM di GROUP BY 1),
xi AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(count(*) AS BIGINT) AS exact_int
  FROM di a JOIN di b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT xi.type_a, xi.type_b,
       ia.c AS exact_a, ib.c AS exact_b,
       ia.c + ib.c - xi.exact_int AS exact_union,
       xi.exact_int,
       TRUE AS union_est_ok,
       TRUE AS int_est_ok
FROM xi
JOIN ic ia ON ia.event_type = xi.type_a
JOIN ic ib ON ib.event_type = xi.type_b
"""


@register(
    "sketch_set_intersection",
    oracle=_INTERSECT_SQL,
    doc="Sketch set algebra: per-event-type audience sketches (HLL++, "
    "rsd=0.01) combined by inclusion-exclusion into a pairwise-overlap "
    "estimate, contract-checked against the exact intersection (the oracle "
    "hash-checks the exact values; the estimate must sit within 5% of the "
    "exact union size)",
    tags=("relational", "sketch"),
)
def sketch_set_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: at 100 TB the per-type audience sketches are mergeable
    constant-memory states maintained per ingest partition (see
    sketch_rollup_merge); |A intersect B| = est(A) + est(B) - est(A union B)
    needs only one extra sketch per PAIR of types — the pair space is
    |types|^2, a dimension-sized aggregate, never a user-level join. The
    exact twins here exist only to enforce the error contract: the
    user-level self-join the oracle runs is exactly the query the sketch
    path makes unnecessary. Estimate rows fan out |types|-1 ways from the
    distinct (user, type) pass — a narrow broadcast-join explode, keys
    uniform."""
    events = load_table(spark, sf_dir, "events")
    di = events.select("user_id", "event_type").distinct().localCheckpoint(eager=False)
    # Exact sides (the oracle's values).
    ic = di.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("c"))
    xi = (
        di.alias("a")
        .join(
            di.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("exact_int"))
    )
    # Sketch sides: per-type estimates and a per-pair union estimate.
    est_type = di.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("est")
    )
    pair_list = xi.select("type_a", "type_b")
    unions = (
        di.join(
            F.broadcast(pair_list),
            (F.col("event_type") == F.col("type_a"))
            | (F.col("event_type") == F.col("type_b")),
        )
        .groupBy("type_a", "type_b")
        .agg(F.approx_count_distinct("user_id", 0.01).alias("est_union"))
    )
    agg = (
        xi.join(F.broadcast(ic.select(F.col("event_type").alias("type_a"), F.col("c").alias("exact_a"))), "type_a")
        .join(F.broadcast(ic.select(F.col("event_type").alias("type_b"), F.col("c").alias("exact_b"))), "type_b")
        .join(F.broadcast(est_type.select(F.col("event_type").alias("type_a"), F.col("est").alias("est_a"))), "type_a")
        .join(F.broadcast(est_type.select(F.col("event_type").alias("type_b"), F.col("est").alias("est_b"))), "type_b")
        .join(F.broadcast(unions), ["type_a", "type_b"])
    )
    exact_union = F.col("exact_a") + F.col("exact_b") - F.col("exact_int")
    est_int = F.col("est_a") + F.col("est_b") - F.col("est_union")
    bound = exact_union.cast("double") * F.lit(0.05)
    return agg.select(
        "type_a",
        "type_b",
        "exact_a",
        "exact_b",
        exact_union.alias("exact_union"),
        "exact_int",
        (F.abs(F.col("est_union") - exact_union) <= bound).alias("union_est_ok"),
        (F.abs(est_int - F.col("exact_int")) <= bound).alias("int_est_ok"),
    )


# ---------------------------------------------------------------------------
# Incremental join-view maintenance: Delta(A JOIN B) folded into a base
# aggregate, checked against a one-pass full recompute.
# ---------------------------------------------------------------------------
_IVM_SPLIT_DATE = "1996-01-01"
_IVM_DELTA_MOD = 10

_IVM_SQL = f"""
WITH j AS (
  SELECT c.c_nationkey,
         o.o_orderdate < TIMESTAMP '{_IVM_SPLIT_DATE} 00:00:00'
           AND c.c_custkey % {_IVM_DELTA_MOD} <> 0 AS in_base,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
)
SELECT c_nationkey,
       CAST(sum(CASE WHEN in_base THEN 1 ELSE 0 END) AS BIGINT) AS base_orders,
       CAST(sum(CASE WHEN in_base THEN 0 ELSE 1 END) AS BIGINT) AS delta_orders,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CASE WHEN in_base THEN cents ELSE 0 END) AS BIGINT)
         AS base_revenue_cents,
       CAST(sum(CASE WHEN in_base THEN 0 ELSE cents END) AS BIGINT)
         AS delta_revenue_cents,
       round(CAST(sum(cents) AS DOUBLE) / 100.0, 2) AS total_revenue
FROM j GROUP BY c_nationkey
"""


@register(
    "incremental_join_maintenance",
    oracle=_IVM_SQL,
    doc="Incremental JOIN-view maintenance: per-nation order revenue kept as "
    "base(A_old JOIN B_old) + Delta, where Delta = dA JOIN B_new UNION "
    "A_old JOIN dB (dA = orders on/after the split date, dB = every 10th "
    "customer); the folded state must hash-match a one-pass recompute",
    tags=("relational", "lake"),
)
def incremental_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The join-view analog of incremental_agg_maintenance: the view
    V = agg(orders JOIN customer) is NEVER recomputed from scratch — the
    builder materializes the base aggregate from old data, then folds in the
    standard two-term join delta  d(A JOIN B) = dA JOIN B_new  UNION
    A_old JOIN dB  (B_new = B_old union dB, so no pair is counted twice),
    re-aggregated and summed into the base state by nation key. Scale shape:
    at 100 TB the base is a stored aggregate (bounded by |nations|) and both
    delta legs scan ONLY delta partitions; each leg is one broadcast join
    (customer side bounded) plus a partial-aggregatable BIGINT rollup, so a
    nightly refresh costs O(|delta|), not O(|history|). All sums are exact
    cents — folding order cannot change the result, which is what makes
    incremental maintenance safe under retries."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    split = F.lit(_IVM_SPLIT_DATE).cast("timestamp")
    a_old = orders.filter(F.col("o_orderdate") < split)
    d_a = orders.filter(~(F.col("o_orderdate") < split))
    b_old = customer.filter(F.col("c_custkey") % _IVM_DELTA_MOD != 0)
    d_b = customer.filter(F.col("c_custkey") % _IVM_DELTA_MOD == 0)

    def _agg(df: DataFrame, base: bool) -> DataFrame:
        one = F.lit(1) if base else F.lit(0)
        return df.groupBy("c_nationkey").agg(
            (F.count(F.lit(1)) * one).cast("long").alias("base_orders"),
            (F.count(F.lit(1)) * (1 - one)).cast("long").alias("delta_orders"),
            (F.sum("cents") * one).cast("long").alias("base_revenue_cents"),
            (F.sum("cents") * (1 - one)).cast("long").alias("delta_revenue_cents"),
        )

    base_state = _agg(a_old.join(F.broadcast(b_old), a_old.o_custkey == b_old.c_custkey), base=True)
    # Two-term delta: dA joins the NEW customer dimension; old A joins dB.
    delta_rows = a_old.join(
        F.broadcast(d_b), a_old.o_custkey == d_b.c_custkey
    ).unionByName(
        d_a.join(F.broadcast(customer), d_a.o_custkey == customer.c_custkey)
    )
    delta_state = _agg(delta_rows, base=False)
    folded = base_state.unionByName(delta_state).groupBy("c_nationkey").agg(
        F.sum("base_orders").cast("long").alias("base_orders"),
        F.sum("delta_orders").cast("long").alias("delta_orders"),
        F.sum("base_revenue_cents").cast("long").alias("base_revenue_cents"),
        F.sum("delta_revenue_cents").cast("long").alias("delta_revenue_cents"),
    )
    return folded.select(
        "c_nationkey",
        "base_orders",
        "delta_orders",
        (F.col("base_orders") + F.col("delta_orders")).alias("n_orders"),
        "base_revenue_cents",
        "delta_revenue_cents",
        F.round(
            (F.col("base_revenue_cents") + F.col("delta_revenue_cents")).cast("double")
            / 100.0,
            2,
        ).alias("total_revenue"),
    )


# ---------------------------------------------------------------------------
# Hierarchy traversal: BOM ancestor chains via pointer jumping.
# ---------------------------------------------------------------------------
#: Synthetic bill-of-materials over ``part``: node p's parent assembly is
#: (p-1) div 4 (4-ary tree rooted at part 0) — depth is log4(|part|), so a
#: 20k-part table is 8 levels and even a billion-part catalog is ~15.
_BOM_FANOUT = 4
_BOM_ROUNDS = 4  # covers depth 2^4 = 16 >= log4 of any realistic catalog

_BOM_SQL = f"""
WITH RECURSIVE parts AS (
  SELECT p_partkey AS node,
         CAST(round(p_retailprice * 100) AS BIGINT) AS cents
  FROM part
),
walk(node, cur, depth, cost) AS (
  SELECT node, node, 0, CAST(0 AS BIGINT) FROM parts
  UNION ALL
  SELECT w.node, (w.cur - 1) // {_BOM_FANOUT}, w.depth + 1, w.cost + p.cents
  FROM walk w JOIN parts p ON p.node = w.cur
  WHERE w.cur > 0
)
SELECT node AS p_partkey, CAST(depth AS BIGINT) AS depth,
       cost AS chain_cost_cents
FROM walk WHERE cur = 0
"""


@register(
    "bom_ancestor_paths",
    oracle=_BOM_SQL,
    doc="Hierarchy traversal without recursive CTEs: every part's depth and "
    "exact ancestor-chain cost (cents, root excluded) in a 4-ary BOM tree, "
    "computed by logarithmic pointer jumping — the oracle walks the same "
    "tree with DuckDB's WITH RECURSIVE",
    tags=("relational", "graph"),
)
def bom_ancestor_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark has no recursive CTE, and the naive translation (iterate
    one parent hop per join) costs depth-many passes over the table. This
    uses pointer jumping / path doubling instead: each round composes the
    current 2^k-step ancestor map with itself, so K = log2(depth) rounds
    flatten every chain — 4 self-joins instead of 16 sequential hops, each
    an equi-shuffle on uniform integer keys. Per-round ``localCheckpoint``
    bounds lineage growth (same contract as the PageRank loop). Costs are
    exact BIGINT cents sums; the builder raises if any chain failed to
    reach the root within the round budget (a cycle or fanout bug would
    otherwise silently truncate)."""
    parts = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("node"),
        F.round(F.col("p_retailprice") * 100).cast("long").alias("cents"),
    )
    j = parts.select(
        "node",
        F.when(F.col("node") == 0, F.lit(None).cast("long"))
        .otherwise(F.expr(f"(node - 1) div {_BOM_FANOUT}"))
        .alias("anc"),
        F.when(F.col("node") == 0, 0).otherwise(1).cast("long").alias("s"),
        F.when(F.col("node") == 0, F.lit(0).cast("long"))
        .otherwise(F.col("cents"))
        .alias("c"),
    )
    for _ in range(_BOM_ROUNDS):
        mid = j.select(
            F.col("node").alias("m_node"),
            F.col("anc").alias("m_anc"),
            F.col("s").alias("m_s"),
            F.col("c").alias("m_c"),
        )
        j = (
            j.join(mid, j["anc"] == mid["m_node"], "left")
            .select(
                "node",
                F.when(F.col("anc").isNull(), F.lit(None).cast("long"))
                .otherwise(F.col("m_anc"))
                .alias("anc"),
                F.when(F.col("anc").isNull(), F.col("s"))
                .otherwise(F.col("s") + F.col("m_s"))
                .alias("s"),
                F.when(F.col("anc").isNull(), F.col("c"))
                .otherwise(F.col("c") + F.col("m_c"))
                .alias("c"),
            )
            .localCheckpoint(eager=False)
        )
    n_unresolved = j.filter(F.col("anc").isNotNull()).count()
    if n_unresolved:
        raise RuntimeError(
            f"{n_unresolved} chains unresolved after {_BOM_ROUNDS} "
            "pointer-jumping rounds — deeper tree than the round budget"
        )
    return j.select(
        F.col("node").alias("p_partkey"),
        F.col("s").alias("depth"),
        F.col("c").alias("chain_cost_cents"),
    )


# ---------------------------------------------------------------------------
# Skyline (Pareto frontier) query.
# ---------------------------------------------------------------------------
_SKYLINE_SQL = """
WITH p AS (
  SELECT p_partkey, CAST(p_size AS BIGINT) AS p_size,
         CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents
  FROM part
)
SELECT r.p_partkey, r.p_size, r.price_cents
FROM p r
WHERE NOT EXISTS (
  SELECT 1 FROM p s
  WHERE s.p_size >= r.p_size AND s.price_cents >= r.price_cents
    AND (s.p_size > r.p_size OR s.price_cents > r.price_cents)
)
"""


@register(
    "pareto_skyline_parts",
    oracle=_SKYLINE_SQL,
    doc="Skyline / Pareto frontier over (size, retail price): parts no "
    "other part dominates on both axes — the maximal-tradeoff query of "
    "catalog and curation analytics, with the quadratic NOT-EXISTS as the "
    "oracle and a linear grouped-prefix-max plan on the Spark side",
    tags=("relational",),
)
def pareto_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the textbook skyline needs no self-join when one axis
    has bounded cardinality — aggregate max(price) per size (keyed shuffle,
    50 groups), take the strictly-larger-size suffix max over that TINY
    dimension (a 50-row window, metadata-sized by construction), broadcast
    it back, and keep rows beaten by neither the suffix max (bigger size,
    >= price) nor their own size's max (same size, > price). One pass over
    the fact side, no O(n^2) dominance join."""
    parts = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("long").alias("p_size"),
        F.round(F.col("p_retailprice") * 100).cast("long").alias("price_cents"),
    )
    per_size = parts.groupBy("p_size").agg(F.max("price_cents").alias("m"))
    # 50-row dimension: the suffix max over strictly larger sizes is a
    # bounded single-partition window — explicitly fine at any fact scale.
    w = Window.orderBy(F.desc("p_size")).rowsBetween(Window.unboundedPreceding, -1)
    dim = per_size.select(
        "p_size", "m", F.max("m").over(w).alias("suffix_m")
    )
    sky = parts.join(F.broadcast(dim), "p_size").filter(
        (F.col("suffix_m").isNull() | (F.col("suffix_m") < F.col("price_cents")))
        & (F.col("m") <= F.col("price_cents"))
    )
    return sky.select("p_partkey", "p_size", "price_cents")


# ---------------------------------------------------------------------------
# Exact weighted median per group.
# ---------------------------------------------------------------------------
_WMEDIAN_SQL = """
WITH hist AS (
  SELECT l_returnflag,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS w
  FROM lineitem GROUP BY 1, 2
),
cum AS (
  SELECT l_returnflag, price_cents, w,
         sum(w) OVER (PARTITION BY l_returnflag ORDER BY price_cents
                      ROWS UNBOUNDED PRECEDING) AS cw,
         sum(w) OVER (PARTITION BY l_returnflag) AS tw
  FROM hist
)
SELECT l_returnflag,
       CAST(min(CASE WHEN 2 * cw >= tw THEN price_cents END) AS BIGINT)
         AS weighted_median_cents,
       CAST(max(tw) AS BIGINT) AS total_weight
FROM cum GROUP BY l_returnflag
"""


@register(
    "weighted_median_price",
    oracle=_WMEDIAN_SQL,
    doc="Exact quantity-weighted median price per return flag: the lower "
    "weighted median (first price whose cumulative weight reaches half the "
    "total), computed over the aggregated DISTINCT-price histogram rather "
    "than the raw rows",
    tags=("relational",),
)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the naive form windows over every ROW of a 3-key
    partition — giant partitions at 100 TB. Aggregating weights onto
    (flag, distinct price) first shrinks the window's input to the price
    DOMAIN (bounded by the cents grid, independent of row count), and the
    cumulative-weight pick is exact BIGINT — no interpolation, no float
    accumulation. This aggregate-then-window shape is the general recipe
    for exact order statistics over skewed group keys."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("price_cents"),
        F.round("l_quantity").cast("long").alias("q"),
    )
    hist = li.groupBy("l_returnflag", "price_cents").agg(
        F.sum("q").cast("long").alias("w")
    )
    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy("price_cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("l_returnflag")
    cum = hist.select(
        "l_returnflag",
        "price_cents",
        F.sum("w").over(w_cum).alias("cw"),
        F.sum("w").over(w_all).alias("tw"),
    )
    return cum.groupBy("l_returnflag").agg(
        F.min(
            F.when(2 * F.col("cw") >= F.col("tw"), F.col("price_cents"))
        )
        .cast("long")
        .alias("weighted_median_cents"),
        F.max("tw").cast("long").alias("total_weight"),
    )


# ---------------------------------------------------------------------------
# Distribution-rank analytics: NTILE / percent_rank / cume_dist — the last
# analytic-window family the surface lacked. Customer lifetime value is
# decile-bucketed per nation; ties are broken by custkey so every rank
# function is deterministic (percent_rank/cume_dist are tie-sensitive, and
# a nondeterministic order would hash-diverge between engines).
# ---------------------------------------------------------------------------
_DECILE_SQL = """
WITH cv AS (
  SELECT c.c_custkey, c.c_nationkey,
         CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS value_cents
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey, c.c_nationkey
),
ranked AS (
  SELECT c_nationkey, c_custkey, value_cents,
         ntile(10) OVER w AS decile,
         percent_rank() OVER w AS pr,
         cume_dist() OVER w AS cd
  FROM cv
  WINDOW w AS (PARTITION BY c_nationkey ORDER BY value_cents, c_custkey)
)
SELECT c_nationkey, CAST(decile AS BIGINT) AS decile,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(min(value_cents) AS BIGINT) AS min_value_cents,
       CAST(max(value_cents) AS BIGINT) AS max_value_cents,
       round(min(pr), 6) AS min_percent_rank,
       round(max(cd), 6) AS max_cume_dist
FROM ranked GROUP BY c_nationkey, decile
"""


@register(
    "customer_value_deciles",
    oracle=_DECILE_SQL,
    doc="Analytic ranks: per-nation customer-value deciles via NTILE(10) "
    "with percent_rank/cume_dist bounds — tie-broken on custkey so every "
    "rank is deterministic and engine-identical",
    tags=("relational", "window"),
)
def customer_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: lifetime value is one keyed aggregation on the uniform
    custkey; the rank window partitions by nation — 25 bounded partitions
    here, and at 100 TB the same query range-partitions by (nation,
    value-bucket) with the two-phase rank offsets (epoch_global_index's
    device) if a single nation outgrows a task. percent_rank/cume_dist are
    exact rational values (rank/(n-1), rank/n) of integers, so rounding to
    6 places is engine-identical."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    cv = (
        cust.join(orders, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_nationkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("value_cents")
        )
    )
    w = Window.partitionBy("c_nationkey").orderBy("value_cents", "c_custkey")
    ranked = cv.select(
        "c_nationkey",
        "c_custkey",
        "value_cents",
        F.ntile(10).over(w).alias("decile"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )
    return ranked.groupBy(
        "c_nationkey", F.col("decile").cast("long").alias("decile")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.min("value_cents").cast("long").alias("min_value_cents"),
        F.max("value_cents").cast("long").alias("max_value_cents"),
        F.round(F.min("pr"), 6).alias("min_percent_rank"),
        F.round(F.max("cd"), 6).alias("max_cume_dist"),
    )


# ---------------------------------------------------------------------------
# VARIANT-typed semi-structured access: the json_shred twin on the modern
# path — events.props parses into Spark 4's VARIANT type once and fields
# are extracted with variant_get (binary-encoded traversal; no per-access
# re-parse, no schema declaration), where json_shred_roundtrip goes through
# schema-full from_json. DuckDB's JSON extraction is the oracle.
# ---------------------------------------------------------------------------
_VARIANT_SQL = """
SELECT event_type,
       CAST(CAST(props ->> '$.k' AS BIGINT) // 10 AS BIGINT) AS k_decade,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(count(DISTINCT CAST(props ->> '$.k' AS BIGINT)) AS BIGINT)
         AS n_distinct_k
FROM events
GROUP BY event_type, k_decade
"""


@register(
    "variant_props_agg",
    oracle=_VARIANT_SQL,
    doc="Semi-structured VARIANT path: props parsed once into Spark 4's "
    "binary VARIANT encoding, fields extracted with variant_get and "
    "aggregated per (event_type, k-decade) — the schemaless twin of "
    "json_shred_roundtrip's declared-schema from_json",
    tags=("relational", "semistructured"),
)
def variant_props_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: parse_json runs once per row in the scan projection
    (narrow, codegen'd); the single shuffle is the keyed aggregation on
    the uniform (event_type, decade) key. VARIANT's binary encoding is
    the right 100 TB call when documents have hundreds of fields touched
    sparsely — extraction cost is per-FIELD-ACCESS, not per-document
    schema materialization."""
    events = load_table(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'bigint')")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type", F.expr("k div 10").cast("long").alias("k_decade"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("k").cast("long").alias("sum_k"),
            F.countDistinct("k").cast("long").alias("n_distinct_k"),
        )
    )


# ---------------------------------------------------------------------------
# Hierarchy cost ROLLUP: the downward twin of bom_ancestor_paths — every
# assembly's exact subtree size and cost. No recursion and no join chain:
# because the BOM parent function is arithmetic ((p-1) div 4), each node
# ENUMERATES its own ancestor chain with a bounded narrow fold and explodes
# one (ancestor, cents) contribution per level; the rollup is then a single
# uniform-keyed aggregation. DuckDB's WITH RECURSIVE walks the same tree as
# the oracle.
# ---------------------------------------------------------------------------
_BOMROLL_MAX_DEPTH = 12  # covers 4^12 parts; depth is log4(|catalog|)

_BOMROLL_SQL = f"""
WITH RECURSIVE parts AS (
  SELECT p_partkey AS node,
         CAST(round(p_retailprice * 100) AS BIGINT) AS cents
  FROM part
),
walk(node, cur) AS (
  SELECT node, node FROM parts
  UNION ALL
  SELECT w.node, (w.cur - 1) // {_BOM_FANOUT} FROM walk w WHERE w.cur > 0
)
SELECT w.cur AS node,
       CAST(count(*) AS BIGINT) AS n_subtree_nodes,
       CAST(sum(p.cents) AS BIGINT) AS subtree_cost_cents
FROM walk w JOIN parts p ON p.node = w.node
GROUP BY w.cur
"""


@register(
    "bom_cost_rollup",
    oracle=_BOMROLL_SQL,
    doc="Hierarchy ROLLUP without recursion: every assembly's exact subtree "
    "node count and cost — each part enumerates its ancestor chain with a "
    "bounded arithmetic fold (depth = log4 of the catalog) and the rollup "
    "is one uniform-keyed aggregation; DuckDB WITH RECURSIVE is the oracle",
    tags=("relational", "graph"),
)
def bom_cost_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the fan-out per row is the tree DEPTH (logarithmic in
    catalog size — 12 levels covers 16M parts; bump the constant, not the
    algorithm, beyond that), so the exploded contribution table is
    |parts| x log4(|parts|) rows shuffled once on the uniform ancestor
    key. Contrast with the naive self-join-per-level plan (depth shuffles)
    or a driver-side recursion (none here — the chain is a narrow
    codegen'd fold per row)."""
    part = load_table(spark, sf_dir, "part")
    chain = (
        f"aggregate(sequence(1, {_BOMROLL_MAX_DEPTH}), array(p_partkey),"
        " (acc, i) -> if(element_at(acc, -1) > 0,"
        f" concat(acc, array((element_at(acc, -1) - 1) div {_BOM_FANOUT})),"
        " acc))"
    )
    # Loud depth guard: the DuckDB oracle's WITH RECURSIVE walks unbounded,
    # so a catalog deeper than _BOMROLL_MAX_DEPTH (> 4^12 ~ 16.7M parts)
    # must FAIL here rather than silently roll up truncated chains.
    walked = part.select(
        F.round(F.col("p_retailprice") * 100).cast("long").alias("cents"),
        F.expr(chain).alias("acc"),
    ).select(
        "cents",
        F.when(
            F.expr("element_at(acc, -1) > 0"),
            F.raise_error(
                F.lit(
                    "bom_cost_rollup: ancestor chain did not reach root "
                    f"within depth {_BOMROLL_MAX_DEPTH}; raise "
                    "_BOMROLL_MAX_DEPTH (catalog exceeds 4^depth parts)"
                )
            ).cast("array<bigint>"),
        )
        .otherwise(F.col("acc"))
        .alias("acc"),
    )
    contrib = walked.select(
        "cents",
        F.explode(F.col("acc")).alias("node"),
    )
    return contrib.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("n_subtree_nodes"),
        F.sum("cents").cast("long").alias("subtree_cost_cents"),
    )


# ---------------------------------------------------------------------------
# AQE skew-join audit: the RUNTIME half of the skew story. skew_salted_join
# shows the manual fix (explicit salts); this proves the engine's own
# adaptive path fires — a 75%-hot join key, a forced sort-merge join, and
# the builder RAISES unless the final adaptive plan carries
# SortMergeJoin(skew=true), i.e. AQE actually split the fat partition by
# map blocks and duplicated the matching dim rows. Subtlety this query
# pins: with a single-mapper scan (one small parquet file) AQE CANNOT
# split a skewed partition — skew specs are per map block — so the fact
# rides parallel_scan, whose small-file repartition is exactly what a
# multi-split 100 TB scan gives naturally.
# ---------------------------------------------------------------------------
_ASJ_REP = 32

_ASJ_SQL = f"""
WITH f AS (
  SELECT event_type,
         CASE WHEN event_id % 4 != 0 THEN 0 ELSE user_id END AS k
  FROM events, range(0, {_ASJ_REP})
),
d AS (SELECT DISTINCT k, k % 7 AS dimval FROM f)
SELECT f.event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(d.dimval) AS BIGINT) AS s
FROM f JOIN d ON d.k = f.k
GROUP BY f.event_type
"""

_ASJ_CONFS = {
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4k",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2k",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


@register(
    "aqe_skew_join_audit",
    oracle=_ASJ_SQL,
    doc="AQE skew-join fired and verified: a 75%-hot key joined under a "
    "forced sort-merge join must show SortMergeJoin(skew=true) in the "
    "final adaptive plan (loud raise otherwise) — the runtime twin of the "
    "manual skew_salted_join; also pins the map-block subtlety that a "
    "single-mapper scan cannot be skew-split (parallel_scan provides the "
    "multi-split input a real 100 TB scan has naturally)",
    tags=("relational", "ops"),
)
def aqe_skew_join_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the audit runs the skewed join for real (thresholds
    scaled to the test corpus; at production scale the defaults fire on
    the same shape), inspects the executed adaptive plan, and returns the
    bounded per-stream aggregate as a local relation — the join output
    itself was already reduced distributedly before collection."""
    saved = {k: spark.conf.get(k, None) for k in _ASJ_CONFS}
    try:
        for k, v in _ASJ_CONFS.items():
            spark.conf.set(k, v)
        ev = (
            parallel_scan(spark, sf_dir, "events")
            .select(
                "event_type",
                F.expr(
                    "CASE WHEN event_id % 4 != 0 THEN 0 ELSE user_id END"
                ).alias("k"),
            )
            .select(
                "*", F.explode(F.expr(f"sequence(1, {_ASJ_REP})")).alias("rep")
            )
        )
        dim = (
            ev.select("k")
            .distinct()
            .withColumn("dimval", F.expr("k % 7"))
            .localCheckpoint(eager=True)  # shuffle directly under the join
        )
        out = (
            ev.join(dim, "k")
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("dimval").cast("long").alias("s"),
            )
        )
        rows = out.collect()
        plan = out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "formatted"
        )
        if "skew=true" not in plan:
            raise RuntimeError(
                "AQE did not split the skewed join partition — "
                "SortMergeJoin(skew=true) missing from the final plan"
            )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return spark.createDataFrame(rows, "event_type string, n long, s long")


# ---------------------------------------------------------------------------
# Runtime Bloom-filter join audit: the non-partition-column counterpart of
# lake_dpp_join's dynamic pruning. A selective dim filter cannot prune the
# fact scan by partition when the join key is scattered (l_orderkey), but
# Spark can build a Bloom filter from the filtered dim and inject a
# might_contain() semi-filter into the fact side — rows that cannot join
# die before the shuffle. The builder RAISES unless the optimized plan
# carries the injected filter, so a silent regression of the runtime-
# filter rule (or its thresholds) fails loudly instead of just slowing
# 100 TB runs down.
# ---------------------------------------------------------------------------
_RBF_SQL = """
SELECT CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderpriority = '1-URGENT'
"""

_RBF_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


@register(
    "runtime_bloom_join_audit",
    oracle=_RBF_SQL,
    doc="Runtime Bloom-filter join fired and verified: urgent orders build "
    "a Bloom filter injected as might_contain() into the lineitem side of "
    "a forced shuffle join (loud raise if the plan lost it) — the "
    "non-partition-key counterpart of lake_dpp_join's dynamic pruning; "
    "result equals the plain filter-join",
    tags=("relational", "ops"),
)
def runtime_bloom_join_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: at 100 TB the semi-filter kills non-joining fact rows
    at the scan, shrinking the shuffle by the dim's selectivity; the
    thresholds here only force the rule on test-sized inputs (the
    application-side default of 10GB is exactly a real fact scan). Confs
    are saved and restored; the audited plan is the exact plan executed."""
    saved = {k: spark.conf.get(k, None) for k in _RBF_CONFS}
    try:
        for k, v in _RBF_CONFS.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        )
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        ).select("o_orderkey")
        out = li.join(o, li.l_orderkey == o.o_orderkey).agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(
                F.expr(
                    "CAST(l_extendedprice AS DECIMAL(18,2))"
                    " * (1 - CAST(l_discount AS DECIMAL(4,2)))"
                )
            )
            .cast("double")
            .alias("revenue"),
        )
        plan = out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "formatted"
        )
        if "might_contain" not in plan:
            raise RuntimeError(
                "runtime Bloom filter missing — might_contain() was not "
                "injected into the fact side of the join"
            )
        rows = out.collect()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return spark.createDataFrame(rows, "n_lines long, revenue double")
