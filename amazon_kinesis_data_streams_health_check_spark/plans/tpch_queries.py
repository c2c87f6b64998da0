"""Second batch of TPC-H-shape relational queries (Q2/Q4/Q6/Q7/Q8/Q9/Q10/
Q11/Q12/Q14/Q15/Q16/Q19/Q22 shapes), adapted to the driver's testdata schema.

The reference has no relational surface (SURVEY.md section 2.9); this module
completes the classic decision-support shapes the first batch
(``relational_queries.py``) left out. Schema adaptations, since the testdata
lacks ``partsupp``, ship modes, commit/receipt dates, and customer phones:

- "late" lineitems = shipped > 30 days after the order date (Q4, Q12);
- supply cost = ``p_retailprice`` (Q9's profit uses retail price as the cost
  basis; Q2's min-cost supplier uses observed unit price from lineitem);
- Q12's ship-mode axis becomes ``l_returnflag``;
- Q22's phone-prefix filter becomes a nation-key grouping.

Cross-engine determinism follows the house rules (see relational_queries.py):
exact DECIMAL for every monetary sum, cast to DOUBLE only in the final
projection; double division only when both operands are already exact;
cross-multiplication instead of fractional thresholds (Q11); epoch-second /
integer-year projections for timestamps; explicit tiebreaks on every LIMIT.

Scale stance per query is noted inline. The common shape: dimension tables
(part, supplier, nation, region, filtered customer) broadcast; the only
unavoidable shuffles are orders<->lineitem co-partitioning and the final
aggregation exchange. Scalar subqueries (Q11/Q15/Q22 thresholds) are tiny
1-row aggregates cross-joined via broadcast — never driver-side collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from amazon_kinesis_data_streams_health_check_spark.plans.registry import register
from amazon_kinesis_data_streams_health_check_spark.sources.tables import load_table

_PRICE = "CAST(l_extendedprice AS DECIMAL(18,2))"
_DISC = "CAST(l_discount AS DECIMAL(4,2))"
_REVENUE = f"{_PRICE} * (CAST(1 AS DECIMAL(3,2)) - {_DISC})"
# Q9 cost basis: retail price x quantity, exact (qty is integral, retail has
# one decimal place).
_COST = "CAST(p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))"


# ---------------------------------------------------------------------------
# Q6: forecasting revenue change — the pure scan-filter-agg query. At 100 TB
# this is bandwidth-bound; all three predicates and the 2-column projection
# must reach the parquet reader (verified in tests/test_plans.py).
# ---------------------------------------------------------------------------
_Q6_SQL = f"""
SELECT CAST(sum({_PRICE} * {_DISC}) AS DOUBLE) AS revenue,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@register(
    "q6_forecast_revenue",
    oracle=_Q6_SQL,
    doc="Q6: scan-filter-aggregate with every predicate pushed to parquet",
    tags=("relational", "bench"),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    filtered = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return filtered.agg(
        F.sum(F.expr(f"{_PRICE} * {_DISC}")).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# Q4: order-priority checking — EXISTS as a semi-join with a non-equi term.
# "Late" adaptation: a line shipped >30 days after the order date.
# ---------------------------------------------------------------------------
_Q4_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
SEMI JOIN lineitem
  ON l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 30 DAY
WHERE o_orderdate >= TIMESTAMP '1996-07-01'
  AND o_orderdate <  TIMESTAMP '1996-10-01'
GROUP BY o_orderpriority
"""


@register(
    "q4_order_priority",
    oracle=_Q4_SQL,
    doc="Q4: EXISTS via left_semi join with mixed equi + non-equi condition",
    tags=("relational",),
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    # Semi join keeps the equi-key (orderkey) as the shuffle key; the date
    # inequality rides along as a residual filter, so no range explosion.
    return (
        orders.join(
            li,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# ---------------------------------------------------------------------------
# Q7: volume shipping between two nations, by supplier-nation / customer-
# nation / ship year.
# ---------------------------------------------------------------------------
_Q7_SQL = f"""
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS l_year,
       CAST(sum({_REVENUE}) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON o_orderkey = l_orderkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON n1.n_nationkey = s_nationkey
JOIN nation n2 ON n2.n_nationkey = c_nationkey
WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
GROUP BY 1, 2, 3
"""


@register(
    "q7_volume_shipping",
    oracle=_Q7_SQL,
    doc="Q7: bidirectional nation-pair trade volume by ship year (dual "
    "broadcast of the nation dim under two aliases)",
    tags=("relational",),
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    nation = load_table(spark, sf_dir, "nation")
    # Suppliers/customers annotated with their nation name, pre-filtered to
    # the two nations of interest -> both sides broadcastable.
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .filter(F.col("n_name").isin("NATION_1", "NATION_2"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .filter(F.col("n_name").isin("NATION_1", "NATION_2"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    joined = (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return joined.groupBy(
        "supp_nation",
        "cust_nation",
        F.year("l_shipdate").cast("long").alias("l_year"),
    ).agg(F.sum(F.expr(_REVENUE)).cast("double").alias("revenue"))


# ---------------------------------------------------------------------------
# Q8: national market share — NATION_5's share of ASIA-customer ECONOMY-part
# revenue per order year. Conditional aggregate ratio; division done in
# double on exact decimal sums.
# ---------------------------------------------------------------------------
_Q8_SQL = f"""
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(sum(CASE WHEN n1.n_name = 'NATION_5' THEN {_REVENUE}
                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
         / CAST(sum({_REVENUE}) AS DOUBLE) AS mkt_share,
       CAST(sum({_REVENUE}) AS DOUBLE) AS total_revenue
FROM lineitem
JOIN orders   ON o_orderkey = l_orderkey
JOIN part     ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON n1.n_nationkey = s_nationkey
JOIN nation n2 ON n2.n_nationkey = c_nationkey
JOIN region   ON r_regionkey = n2.n_regionkey
WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
GROUP BY 1
"""


@register(
    "q8_market_share",
    oracle=_Q8_SQL,
    doc="Q8: conditional-aggregate market-share ratio over a 7-way join "
    "(every dimension broadcast; one orders<->lineitem shuffle)",
    tags=("relational",),
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    # ASIA customers: nation joined to the filtered region, then broadcast.
    asia_cust = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(
                nation.join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    joined = (
        li.join(F.broadcast(part.select("p_partkey")), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(asia_cust), F.col("c_custkey") == F.col("o_custkey"), "left_semi")
    )
    nation5_rev = F.sum(
        F.when(F.col("supp_nation") == "NATION_5", F.expr(_REVENUE)).otherwise(
            F.expr("CAST(0 AS DECIMAL(18,2))")
        )
    ).cast("double")
    total_rev = F.sum(F.expr(_REVENUE)).cast("double")
    return joined.groupBy(F.year("o_orderdate").cast("long").alias("o_year")).agg(
        (nation5_rev / total_rev).alias("mkt_share"),
        total_rev.alias("total_revenue"),
    )


# ---------------------------------------------------------------------------
# Q9: product-type profit. Adapted cost basis: retail price x quantity
# (testdata has no partsupp.ps_supplycost).
# ---------------------------------------------------------------------------
_Q9_SQL = f"""
SELECT n_name AS nation,
       CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(sum({_REVENUE} - {_COST}) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part     ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN nation   ON n_nationkey = s_nationkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2
"""


@register(
    "q9_product_profit",
    oracle=_Q9_SQL,
    doc="Q9 shape: profit (revenue - retailprice*qty cost) for parts matching "
    "a name pattern, by supplier nation and order year",
    tags=("relational", "bench"),
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    nation = load_table(spark, sf_dir, "nation")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "n_name")
    )
    joined = (
        li.join(
            F.broadcast(part.select("p_partkey", "p_retailprice")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
    )
    return joined.groupBy(
        F.col("n_name").alias("nation"),
        F.year("o_orderdate").cast("long").alias("o_year"),
    ).agg(F.sum(F.expr(f"{_REVENUE} - {_COST}")).cast("double").alias("sum_profit"))


# ---------------------------------------------------------------------------
# Q10: returned-item reporting — top-20 customers by returned revenue in a
# quarter, fully tie-broken.
# ---------------------------------------------------------------------------
_Q10_SQL = f"""
SELECT c_custkey, c_name,
       CAST(sum({_REVENUE}) AS DOUBLE) AS revenue,
       CAST(c_acctbal AS DOUBLE) AS c_acctbal,
       n_name
FROM customer
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON n_nationkey = c_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-10-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
  AND l_returnflag = 'R'
GROUP BY 1, 2, 4, 5
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@register(
    "q10_returned_items",
    oracle=_Q10_SQL,
    doc="Q10: returned-revenue top-20 customers (TakeOrderedAndProject with "
    "deterministic tiebreak, nation dim broadcast)",
    tags=("relational",),
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation")
    joined = (
        li.join(
            F.broadcast(orders.select("o_orderkey", "o_custkey")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("c_nationkey"))
    )
    return (
        joined.groupBy(
            "c_custkey",
            "c_name",
            F.col("c_acctbal").cast("double").alias("c_acctbal"),
            "n_name",
        )
        .agg(F.sum(F.expr(_REVENUE)).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q11: important stock — nation revenue share above a global-fraction
# threshold. Cross-multiplication (rev * 20 > total) keeps the comparison in
# exact decimal; the global total is a broadcast 1-row aggregate of the
# (persisted) 25-row per-nation aggregate, not a second lineitem scan.
# ---------------------------------------------------------------------------
_Q11_SQL = f"""
WITH nr AS (
  SELECT n_name, sum({_REVENUE}) AS rev
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation   ON n_nationkey = s_nationkey
  GROUP BY n_name
)
SELECT n_name, CAST(rev AS DOUBLE) AS revenue
FROM nr
WHERE rev * 20 > (SELECT sum(rev) FROM nr)
"""


@register(
    "q11_important_nations",
    oracle=_Q11_SQL,
    doc="Q11 shape: HAVING vs global-sum scalar subquery, exact-decimal "
    "cross-multiplied threshold; per-nation aggregate persisted so the "
    "global total reuses it instead of rescanning the fact table",
    tags=("relational",),
)
def q11_important_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    nation = load_table(spark, sf_dir, "nation")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "n_name")
    )
    # Persist the tiny per-nation aggregate: Catalyst's
    # RemoveRedundantAggregates would otherwise rewrite the total-of-sums
    # into a second full lineitem scan (see memory: alarm.with_period_grid).
    nr = (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("n_name")
        .agg(F.sum(F.expr(_REVENUE)).alias("rev"))
        .persist()
    )
    total = nr.agg(F.sum("rev").alias("total"))
    return (
        nr.crossJoin(F.broadcast(total))
        .filter(F.col("rev") * 20 > F.col("total"))
        .select("n_name", F.col("rev").cast("double").alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Q12: shipping-mode priority — adapted axis: l_returnflag; "late" = shipped
# >30 days after order date, within one ship year.
# ---------------------------------------------------------------------------
_Q12_SQL = """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
            AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
            AS BIGINT) AS low_line_count
FROM orders
JOIN lineitem ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 30 DAY
  AND l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
GROUP BY l_returnflag
"""


@register(
    "q12_late_lines_by_flag",
    oracle=_Q12_SQL,
    doc="Q12 shape: late-line priority counts by return flag (conditional "
    "integer aggregates over a non-equi-filtered join)",
    tags=("relational",),
)
def q12_late_lines_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# Q14: promotion effect — PROMO-type share of one month's revenue.
# ---------------------------------------------------------------------------
_Q14_SQL = f"""
SELECT CAST(100 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN {_REVENUE}
                               ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
            / CAST(sum({_REVENUE}) AS DOUBLE) AS DOUBLE) AS promo_revenue_pct,
       CAST(sum({_REVENUE}) AS DOUBLE) AS total_revenue
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01'
  AND l_shipdate <  TIMESTAMP '1996-10-01'
"""


@register(
    "q14_promo_effect",
    oracle=_Q14_SQL,
    doc="Q14: promotion revenue share (conditional decimal aggregate ratio, "
    "part dim broadcast)",
    tags=("relational",),
)
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    joined = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    promo = F.sum(
        F.when(F.col("p_type") == "PROMO", F.expr(_REVENUE)).otherwise(
            F.expr("CAST(0 AS DECIMAL(18,2))")
        )
    ).cast("double")
    total = F.sum(F.expr(_REVENUE)).cast("double")
    return joined.agg(
        (F.lit(100) * promo / total).cast("double").alias("promo_revenue_pct"),
        total.alias("total_revenue"),
    )


# ---------------------------------------------------------------------------
# Q15: top supplier — suppliers achieving the quarter's maximum revenue
# (scalar MAX subquery; exact-decimal equality keeps ties well-defined).
# ---------------------------------------------------------------------------
_Q15_SQL = f"""
WITH rev AS (
  SELECT l_suppkey AS supplier_no, sum({_REVENUE}) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
FROM supplier JOIN rev ON s_suppkey = supplier_no
WHERE total_rev = (SELECT max(total_rev) FROM rev)
"""


@register(
    "q15_top_supplier",
    oracle=_Q15_SQL,
    doc="Q15: max-revenue supplier via scalar-subquery equality on the exact "
    "decimal aggregate (persisted 100-row rev view, broadcast max)",
    tags=("relational",),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    supplier = load_table(spark, sf_dir, "supplier")
    rev = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(F.expr(_REVENUE)).alias("total_rev"))
        .persist()  # reused for the max and the join; avoids a second scan
    )
    mx = rev.agg(F.max("total_rev").alias("mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("mx"))
        .join(F.broadcast(supplier), F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", F.col("total_rev").cast("double").alias("total_revenue"))
    )


# ---------------------------------------------------------------------------
# Q16: parts/supplier relationship — distinct-supplier counts per brand/size
# with a NOT IN anti-join supplier exclusion (testdata has no partsupp:
# lineitem is the part<->supplier relation).
# ---------------------------------------------------------------------------
_Q16_SQL = """
SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1'
  AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7')
GROUP BY p_brand, p_size
"""


@register(
    "q16_supplier_part_counts",
    oracle=_Q16_SQL,
    doc="Q16 shape: NOT-IN anti-join exclusion + distinct-count by brand/size",
    tags=("relational",),
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
    )
    excluded = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_name").like("%7"))
        .select("s_suppkey")
    )
    # s_suppkey is non-null in the testdata, so NOT IN == left_anti here.
    return (
        li.join(F.broadcast(part.select("p_partkey", "p_brand", "p_size")),
                F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(excluded), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# Q19: discounted revenue — three disjunctive brand/size/quantity branches.
# The OR-of-ANDs must stay a single joined scan (no union of three scans).
# ---------------------------------------------------------------------------
_Q19_SQL = f"""
SELECT CAST(sum({_REVENUE}) AS DOUBLE) AS revenue, count(*) AS n_lines
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 15  AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#11' AND p_size BETWEEN 10 AND 25 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#19' AND p_size BETWEEN 20 AND 40 AND l_quantity BETWEEN 20 AND 30)
"""


@register(
    "q19_disjunctive_revenue",
    oracle=_Q19_SQL,
    doc="Q19: disjunctive (OR-of-conjunction) predicates across the join, "
    "evaluated on a single scan pair",
    tags=("relational",),
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    branch = (
        (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#11")
            & F.col("p_size").between(10, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#19")
            & F.col("p_size").between(20, 40)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.filter(branch).agg(
        F.sum(F.expr(_REVENUE)).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# Q2 shape: min-cost supplier — for mid-size parts, the EUROPE supplier(s)
# with the minimum observed unit price (lineitem stands in for partsupp).
# ---------------------------------------------------------------------------
_Q2_SQL = """
WITH cost AS (
  SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS unit_cost
  FROM lineitem
  SEMI JOIN (
    SELECT s_suppkey FROM supplier
    JOIN nation ON n_nationkey = s_nationkey
    JOIN region ON r_regionkey = n_regionkey
    WHERE r_name = 'EUROPE'
  ) eu ON eu.s_suppkey = l_suppkey
  GROUP BY 1, 2
)
SELECT p_partkey, p_name, s_name, n_name,
       CAST(unit_cost AS DOUBLE) AS unit_cost
FROM cost
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
WHERE p_size BETWEEN 15 AND 20
  AND unit_cost = (SELECT min(c2.unit_cost) FROM cost c2
                   WHERE c2.l_partkey = cost.l_partkey)
"""


@register(
    "q2_min_cost_supplier",
    oracle=_Q2_SQL,
    doc="Q2 shape: correlated-min subquery (decorrelated to a window min) "
    "picking the cheapest EUROPE supplier per mid-size part",
    tags=("relational",),
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size").between(15, 20))
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu_supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                nation.join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "n_name")
    )
    cost = (
        li.join(
            F.broadcast(eu_supp.select("s_suppkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_semi",
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"))
    )
    # Correlated min decorrelates to a per-part window min: one extra
    # exchange on l_partkey over the already-tiny cost relation, instead of a
    # second scan + self-join.
    w = Window.partitionBy("l_partkey")
    best = cost.withColumn("min_cost", F.min("unit_cost").over(w)).filter(
        F.col("unit_cost") == F.col("min_cost")
    )
    return (
        best.join(F.broadcast(part.select("p_partkey", "p_name")),
                  F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(eu_supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "p_partkey", "p_name", "s_name", "n_name",
            F.col("unit_cost").cast("double").alias("unit_cost"),
        )
    )


# ---------------------------------------------------------------------------
# Q22: global sales opportunity — rich idle customers (above-average positive
# balance, no orders since 2000), by nation. The average is an exact decimal
# sum / count division done identically in both engines.
# ---------------------------------------------------------------------------
_Q22_CUTOFF = "2000-01-01"

_Q22_SQL = f"""
WITH thr AS (
  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_bal
  FROM customer WHERE c_acctbal > 0
)
SELECT c_nationkey,
       count(*) AS numcust,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM customer
ANTI JOIN (SELECT o_custkey FROM orders
           WHERE o_orderdate >= TIMESTAMP '{_Q22_CUTOFF}') recent
  ON o_custkey = c_custkey
WHERE c_acctbal > (SELECT avg_bal FROM thr)
GROUP BY c_nationkey
"""


# ---------------------------------------------------------------------------
# Q13: customer order-count distribution — the one LEFT OUTER shape in the
# suite (zero-order customers must appear with c_count = 0).
# ---------------------------------------------------------------------------
_Q13_SQL = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) t
GROUP BY c_count
"""


@register(
    "q13_customer_distribution",
    oracle=_Q13_SQL,
    doc="Q13: order-count histogram via left outer join with an ON-clause "
    "filter (NULL-preserving count) and a re-aggregation",
    tags=("relational",),
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    # The priority predicate must live in the ON clause: a WHERE would turn
    # the outer join inner and drop zero-order customers.
    per_cust = (
        cust.join(
            orders,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# ---------------------------------------------------------------------------
# Q20: potential part promotion — suppliers who moved heavy volume of a
# matching part in one year (HAVING-aggregate inside an IN; testdata has no
# partsupp, so shipped volume per (supplier, part) stands in for availqty).
# ---------------------------------------------------------------------------
_Q20_QTY = 45

_Q20_SQL = f"""
SELECT s_suppkey, s_name, n_name
FROM supplier
JOIN nation ON n_nationkey = s_nationkey
SEMI JOIN (
  SELECT l_suppkey
  FROM lineitem
  SEMI JOIN (SELECT p_partkey FROM part WHERE p_name LIKE '%red%') p
    ON p_partkey = l_partkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1997-01-01'
  GROUP BY l_suppkey, l_partkey
  HAVING sum(l_quantity) > {_Q20_QTY}
) heavy ON heavy.l_suppkey = s_suppkey
"""


@register(
    "q20_heavy_volume_suppliers",
    oracle=_Q20_SQL,
    doc="Q20 shape: IN over a HAVING-filtered grouped subquery (semi join "
    "chain: part filter -> per-(supplier,part) volume -> supplier)",
    tags=("relational",),
)
def q20_heavy_volume_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    red_parts = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey")
    )
    heavy = (
        li.join(F.broadcast(red_parts), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > _Q20_QTY)
        .select("l_suppkey")
    )
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return (
        supplier.join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(heavy), F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
        .select("s_suppkey", "s_name", "n_name")
    )


@register(
    "q22_idle_rich_customers",
    oracle=_Q22_SQL,
    doc="Q22 shape: scalar-average threshold + anti join (customers with "
    "above-average balance and no recent orders), by nation key",
    tags=("relational",),
)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit(_Q22_CUTOFF).cast("timestamp"))
        .select("o_custkey")
    )
    thr = cust.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.expr("CAST(c_acctbal AS DECIMAL(18,2))")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_bal")
    )
    return (
        cust.crossJoin(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.expr("CAST(c_acctbal AS DECIMAL(18,2))")).cast("double").alias("totacctbal"),
        )
    )
