"""Second wave of relational coverage [EXT]: correlated-existence
joins, scalar subqueries, join-back-to-aggregate (HAVING-IN), outer-join
count distributions, analytic windows (lag/lead/ntile/percent_rank),
array aggregation, and regex/CASE scalar surfaces — TPC-H Q4/Q7/Q13/
Q18/Q22 shapes adapted to the test schema (no partsupp/phone columns).

Scale posture follows PLANS.md: no hard broadcast hints on SF-scaling
tables; fact-fact joins shuffle on their keys; aggregates are decimal-
summed for cross-engine determinism (see operators.relational.dsum).

Reference provenance: the reference has none of these operators
(SURVEY.md §2.2 — grep ``join``/``groupBy``/``window`` over
``/root/reference/src`` = 0 hits); shapes follow the public TPC-H spec.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_kafka_airflow_pipeline_spark.operators.base import QueryFn, ppm, table
from spark_kafka_airflow_pipeline_spark.operators.relational import (
    SQL_DSUM,
    dsum,
)
from spark_kafka_airflow_pipeline_spark.session import scoped_conf


def _ts(s: str):
    return F.lit(s).cast("timestamp")


# ----------------------------------------------------------------------
# q4 shape: correlated EXISTS -> semi join with extra-table predicate
# ----------------------------------------------------------------------

def q4_late_shipment_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders (one quarter) having at least one line item shipped more
    than 60 days after the order date — TPC-H Q4's correlated EXISTS,
    planned as a LEFT SEMI join so the fact table never multiplies rows.
    The semi join shuffles on orderkey; the date predicate rides inside
    the join condition (evaluated pre-shuffle output, no second pass)."""
    o = (table(spark, sf_dir, "orders")
         .filter((F.col("o_orderdate") >= _ts("1996-07-01"))
                 & (F.col("o_orderdate") < _ts("1996-10-01"))))
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = (F.col("l_orderkey") == F.col("o_orderkey")) & \
        (F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60))
    return (
        o.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-07-01'
  AND o_orderdate <  TIMESTAMP '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o.o_orderkey
                AND l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
"""

# ----------------------------------------------------------------------
# q7 shape: two dimension lineages on one fact, nation-pair volume
# ----------------------------------------------------------------------

def q7_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue between distinct (supplier-nation, customer-nation) pairs
    per year — the fact joins TWO independently-derived dimension
    lineages (supplier->nation, orders->customer->nation). Nation (25
    rows, fixed) broadcasts; customer/supplier joins are left to the
    planner/AQE (PLANS.md)."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation"))
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("cn_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .filter(F.col("supp_nation").isin("NATION_1", "NATION_2")
                & F.col("cust_nation").isin("NATION_1", "NATION_2"))
        .groupBy("supp_nation", "cust_nation",
                 F.year("l_shipdate").alias("l_year"))
        .agg(dsum(revenue, "revenue"))
    )


Q7_SQL = f"""
SELECT supp_nation, cust_nation, l_year,
       {SQL_DSUM.format(expr='volume')} AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS INT) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE n1.n_name != n2.n_name
    AND n1.n_name IN ('NATION_1', 'NATION_2')
    AND n2.n_name IN ('NATION_1', 'NATION_2')
)
GROUP BY supp_nation, cust_nation, l_year
"""

# ----------------------------------------------------------------------
# q13 shape: LEFT OUTER join preserving zero-count customers
# ----------------------------------------------------------------------

def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of customers by order count, INCLUDING zero-order
    customers (left outer join, count of non-null keys). Two
    aggregations; both shuffle on bounded keys (custkey, then the tiny
    count domain)."""
    cust = table(spark, sf_dir, "customer").select("c_custkey")
    urgent = (table(spark, sf_dir, "orders")
              .filter(F.col("o_orderpriority") == "1-URGENT")
              .select("o_orderkey", "o_custkey"))
    per_cust = (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))  # count skips NULLs
    )
    return (per_cust.groupBy("c_count")
            .agg(F.count(F.lit(1)).alias("n_customers")))


Q13_SQL = """
SELECT c_count, COUNT(*) AS n_customers
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority = '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
"""

# ----------------------------------------------------------------------
# q18 shape: HAVING on an aggregate, joined back to the detail tables
# ----------------------------------------------------------------------

def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders whose total quantity exceeds 300, with customer detail —
    TPC-H Q18's group->filter->join-back, expressed as one aggregation
    reused for both the predicate and the output (no IN-subquery
    recompute; the reference pattern would scan lineitem twice)."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (li.groupBy("l_orderkey")
           .agg(dsum(F.col("l_quantity"), "total_qty"))
           .filter(F.col("total_qty") > 300))
    return (
        big.join(orders, F.col("l_orderkey") == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey",
                F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
                "o_totalprice", "total_qty")
    )


Q18_SQL = f"""
SELECT c_custkey, c_name, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_totalprice, total_qty
FROM (
  SELECT l_orderkey, {SQL_DSUM.format(expr='l_quantity')} AS total_qty
  FROM lineitem GROUP BY l_orderkey
) big
JOIN orders   ON big.l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE total_qty > 300
"""

# ----------------------------------------------------------------------
# q22 shape: scalar subquery + anti join
# ----------------------------------------------------------------------

def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with above-average positive balance and NO orders —
    scalar aggregate subquery (global avg, broadcast as a 1-row frame)
    + anti join, grouped by nation. The 1-row cross join is the
    idiomatic Spark scalar-subquery plan (BroadcastNestedLoopJoin over
    one row — constant cost at any SF)."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").select("o_custkey")
    avg_bal = (cust.filter(F.col("c_acctbal") > 0)
               .agg(F.avg("c_acctbal").alias("avg_bal")))
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers"),
             dsum(F.col("c_acctbal"), "total_bal"))
    )


Q22_SQL = f"""
SELECT c_nationkey, COUNT(*) AS n_customers,
       {SQL_DSUM.format(expr='c_acctbal')} AS total_bal
FROM customer c
WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c.c_custkey)
GROUP BY c_nationkey
"""

# ----------------------------------------------------------------------
# analytic window functions: lag / lead / ntile / percent_rank
# ----------------------------------------------------------------------

def orders_window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order analytics: previous/next order totals
    (lag/lead), price quartile within the customer (ntile), and
    percent_rank — one window spec, shuffled once on custkey."""
    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wp = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice"), F.col("o_orderkey"))
    return orders.select(
        "o_custkey", "o_orderkey",
        F.lag("o_totalprice", 1).over(w).alias("prev_price"),
        F.lead("o_totalprice", 1).over(w).alias("next_price"),
        F.ntile(4).over(wp).alias("price_quartile"),
        F.round(F.percent_rank().over(wp), 6).alias("price_pct_rank"),
    )


WINDOW_ANALYTICS_SQL = """
SELECT o_custkey, o_orderkey,
       lag(o_totalprice, 1)  OVER w  AS prev_price,
       lead(o_totalprice, 1) OVER w  AS next_price,
       CAST(ntile(4) OVER wp AS INT) AS price_quartile,
       round(percent_rank() OVER wp, 6) AS price_pct_rank
FROM orders
WINDOW w  AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
       wp AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
"""

# ----------------------------------------------------------------------
# array aggregation: collect + sort + join, min/max by struct ordering
# ----------------------------------------------------------------------

def customer_status_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order profile: sorted distinct statuses as one
    string (array agg surface), first/last order dates. collect_set is
    order-nondeterministic across partitionings — sort_array makes the
    result canonical before join/hash."""
    orders = table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.array_join(F.array_sort(F.collect_set("o_orderstatus")), ",")
            .alias("statuses"),
            F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("first_order"),
            F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("last_order"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


STATUS_PROFILE_SQL = """
SELECT o_custkey,
       array_to_string(list_sort(list_distinct(list(o_orderstatus))), ',')
         AS statuses,
       strftime(MIN(o_orderdate), '%Y-%m-%d') AS first_order,
       strftime(MAX(o_orderdate), '%Y-%m-%d') AS last_order,
       COUNT(*) AS n_orders
FROM orders
GROUP BY o_custkey
"""

# ----------------------------------------------------------------------
# regex + CASE scalar surface
# ----------------------------------------------------------------------

def part_type_taxonomy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex extraction + CASE classification over part: first word of
    p_type, size class, counts per combination — pure codegen
    expressions on the scan."""
    p = table(spark, sf_dir, "part")
    size_class = (F.when(F.col("p_size") < 10, "small")
                  .when(F.col("p_size") < 30, "medium")
                  .otherwise("large"))
    return (
        p.select(
            F.regexp_extract("p_type", r"^(\w+)", 1).alias("type_head"),
            size_class.alias("size_class"),
        )
        .groupBy("type_head", "size_class")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )


PART_TAXONOMY_SQL = """
SELECT regexp_extract(p_type, '^(\\w+)', 1) AS type_head,
       CASE WHEN p_size < 10 THEN 'small'
            WHEN p_size < 30 THEN 'medium'
            ELSE 'large' END AS size_class,
       COUNT(*) AS n_parts
FROM part
GROUP BY 1, 2
"""


# ----------------------------------------------------------------------
# exact quantiles, histogram binning, first/last window values
# ----------------------------------------------------------------------

def order_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles per status (Spark ``percentile`` ==
    DuckDB ``quantile_cont`` semantics, probed bit-equal). At 100 TB the
    approx_percentile sketch replaces this; the exact form is the
    correctness baseline."""
    o = table(spark, sf_dir, "orders")
    qs = {"p25": 0.25, "p50": 0.5, "p75": 0.75, "p95": 0.95}
    # one array-percentile buffer per group instead of four —
    # bit-identical values (r17, see scaleops.orders_equidepth_bins)
    arr = ", ".join(str(q) for q in qs.values())
    return (o.groupBy("o_orderstatus")
            .agg(F.expr(f"percentile(o_totalprice, array({arr}))")
                 .alias("_ps"))
            .select("o_orderstatus",
                    *[F.round(F.col("_ps")[i], 6).alias(name)
                      for i, name in enumerate(qs)]))


ORDER_QUANTILES_SQL = """
SELECT o_orderstatus,
       round(quantile_cont(o_totalprice, 0.25), 6) AS p25,
       round(quantile_cont(o_totalprice, 0.50), 6) AS p50,
       round(quantile_cont(o_totalprice, 0.75), 6) AS p75,
       round(quantile_cont(o_totalprice, 0.95), 6) AS p95
FROM orders GROUP BY o_orderstatus
"""


def winsorized_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINSORIZED robust mean per return flag [EXT]: unit prices are
    clamped to their group's [p5, p95] before averaging — the standard
    outlier-robust estimator between the raw mean (outlier-dragged)
    and the median (discards 98% of the information).  Two passes:
    (1) exact percentile bounds per group — at 100 TB the
    ``percentile_approx`` sketch replaces this pass, same topology;
    (2) clamp + mean, a plain partial-aggregating groupBy.

    Determinism: prices in DOUBLED integer cents (the x2 trick) with
    an explicit floor() before the BIGINT cast on both engines (the
    ``weighted_median_price`` cast rule: Spark truncates, DuckDB
    rounds half-to-even — floor is engine-identical); the clamped sum
    is a BIGINT reduction; the means are single divisions rounded to
    6dp.  Bounds join back as a bounded broadcast (one row per
    flag)."""
    li = table(spark, sf_dir, "lineitem")
    base = li.select(
        "l_returnflag",
        (F.floor(F.col("l_extendedprice") / F.col("l_quantity") * 100
                 + 0.5).cast("bigint") * 2).alias("c2"))
    # one array-percentile buffer per flag instead of two —
    # bit-identical values (r17, see scaleops.orders_equidepth_bins)
    bounds = (base.groupBy("l_returnflag")
              .agg(F.expr("percentile(c2, array(0.05, 0.95))").alias("_ps"))
              .select("l_returnflag",
                      F.floor(F.col("_ps")[0]).cast("bigint").alias("lo_x2"),
                      F.floor(F.col("_ps")[1]).cast("bigint").alias("hi_x2")))
    w = F.least(F.greatest(F.col("c2"), F.col("lo_x2")), F.col("hi_x2"))
    return (base.join(F.broadcast(bounds), "l_returnflag")
            .groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.first("lo_x2").alias("lo_x2"),
                 F.first("hi_x2").alias("hi_x2"),
                 F.sum(F.when(F.col("c2") < F.col("lo_x2"), 1).otherwise(0))
                 .cast("bigint").alias("n_clamped_lo"),
                 F.sum(F.when(F.col("c2") > F.col("hi_x2"), 1).otherwise(0))
                 .cast("bigint").alias("n_clamped_hi"),
                 F.round(F.sum(w) / F.count(F.lit(1)), 6)
                 .alias("win_mean_x2"),
                 F.round(F.sum("c2") / F.count(F.lit(1)), 6)
                 .alias("raw_mean_x2"))
            .orderBy("l_returnflag"))


WINSORIZED_SQL = """
WITH base AS (
  SELECT l_returnflag,
         CAST(floor(l_extendedprice / l_quantity * 100 + 0.5) AS BIGINT)
           * 2 AS c2
  FROM lineitem
), bounds AS (
  SELECT l_returnflag,
         CAST(floor(quantile_cont(c2, 0.05)) AS BIGINT) AS lo_x2,
         CAST(floor(quantile_cont(c2, 0.95)) AS BIGINT) AS hi_x2
  FROM base GROUP BY l_returnflag
)
SELECT b.l_returnflag, COUNT(*) AS n,
       CAST(MIN(lo_x2) AS BIGINT) AS lo_x2,
       CAST(MIN(hi_x2) AS BIGINT) AS hi_x2,
       CAST(SUM(CASE WHEN c2 < lo_x2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clamped_lo,
       CAST(SUM(CASE WHEN c2 > hi_x2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clamped_hi,
       round(CAST(SUM(least(greatest(c2, lo_x2), hi_x2)) AS BIGINT)
             / COUNT(*), 6) AS win_mean_x2,
       round(CAST(SUM(c2) AS BIGINT) / COUNT(*), 6) AS raw_mean_x2
FROM base b JOIN bounds USING (l_returnflag)
GROUP BY b.l_returnflag
ORDER BY b.l_returnflag
"""


def order_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals (50k bins) — one shuffle on
    the (tiny) bin domain; partial counts combine map-side, so the
    histogram of 100 TB costs one scan + a 32-row shuffle."""
    o = table(spark, sf_dir, "orders")
    bin_ = F.floor(F.col("o_totalprice") / 50_000).cast("int")
    return (o.groupBy(bin_.alias("price_bin"))
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.min("o_totalprice"), 2).alias("bin_min"),
                 F.round(F.max("o_totalprice"), 2).alias("bin_max")))


ORDER_HISTOGRAM_SQL = """
SELECT CAST(floor(o_totalprice / 50000) AS INT) AS price_bin,
       COUNT(*) AS n_orders,
       round(MIN(o_totalprice), 2) AS bin_min,
       round(MAX(o_totalprice), 2) AS bin_max
FROM orders GROUP BY 1
"""


def customer_first_last_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value over an explicit full-partition frame —
    the frame spec is the trap (default frame ends at CURRENT ROW, which
    silently makes last_value == current row)."""
    o = table(spark, sf_dir, "orders")
    w = (Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    return (o.select(
        "o_custkey",
        F.first_value("o_orderkey").over(w).alias("first_orderkey"),
        F.last_value("o_orderkey").over(w).alias("last_orderkey"),
    ).dropDuplicates(["o_custkey"]))


FIRST_LAST_SQL = """
SELECT DISTINCT o_custkey,
       first_value(o_orderkey) OVER w AS first_orderkey,
       last_value(o_orderkey)  OVER w AS last_orderkey
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


# ----------------------------------------------------------------------
# q10 shape: 4-way join + group + top-k on revenue
# ----------------------------------------------------------------------

def q10_returned_revenue_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 20 customers by revenue on RETURNED items in one quarter —
    lineitem(filter R) x orders(filter quarter) x customer x nation.
    Nation broadcasts (fixed 25 rows); customer join is AQE's call."""
    li = (table(spark, sf_dir, "lineitem")
          .filter(F.col("l_returnflag") == "R")
          .select("l_orderkey", "l_extendedprice", "l_discount"))
    orders = (table(spark, sf_dir, "orders")
              .filter((F.col("o_orderdate") >= _ts("1996-01-01"))
                      & (F.col("o_orderdate") < _ts("1996-07-01")))
              .select("o_orderkey", "o_custkey"))
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(dsum(revenue, "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


Q10_SQL = f"""
SELECT c_custkey, c_name, n_name, c_acctbal,
       {SQL_DSUM.format(expr='l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem, orders, customer, nation
WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
  AND c_nationkey = n_nationkey
  AND l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1996-07-01'
GROUP BY c_custkey, c_name, n_name, c_acctbal
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""

# ----------------------------------------------------------------------
# q14 shape: conditional-aggregation ratio over a fact x dim join
# ----------------------------------------------------------------------

def q14_promo_revenue_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of one month's revenue from 'PROMO%' parts: lineitem x part
    with a CASE numerator over the total — both sums come out of ONE
    aggregation pass (no second scan for the denominator)."""
    li = (table(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= _ts("1996-03-01"))
                  & (F.col("l_shipdate") < _ts("1996-04-01"))))
    part = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))) \
        .cast("decimal(20,6)")
    promo = F.when(F.col("p_type").startswith("PROMO"), revenue) \
        .otherwise(F.lit(0).cast("decimal(20,6)"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg((F.sum(promo).cast("double") * 100.0
              / F.sum(revenue).cast("double")).alias("promo_revenue_pct"),
             F.count(F.lit(1)).alias("n_lineitems"))
        .select(F.round("promo_revenue_pct", 6).alias("promo_revenue_pct"),
                "n_lineitems")
    )


Q14_SQL = """
SELECT round(CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
                      THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))
                      ELSE CAST(0 AS DECIMAL(20,6)) END) AS DOUBLE) * 100.0
           / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) AS DOUBLE),
           6) AS promo_revenue_pct,
       COUNT(*) AS n_lineitems
FROM lineitem, part
WHERE l_partkey = p_partkey
  AND l_shipdate >= TIMESTAMP '1996-03-01'
  AND l_shipdate <  TIMESTAMP '1996-04-01'
"""

# ----------------------------------------------------------------------
# q19 shape: disjunctive multi-column predicate (OR-of-ANDs)
# ----------------------------------------------------------------------

def q19_disjunctive_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue under an OR of three conjunctive brand/size/quantity
    baskets — exercises Catalyst's handling of disjunctions: the common
    `l_partkey = p_partkey` stays a join key, per-branch column bounds
    (e.g. combined quantity/size ranges) still push to the scans."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    j = li.join(part, li.l_partkey == part.p_partkey)
    b = F.col("p_brand")
    q = F.col("l_quantity")
    s = F.col("p_size")
    basket = (
        ((b == "Brand#1") & (q >= 1) & (q <= 11) & (s >= 1) & (s <= 5))
        | ((b == "Brand#2") & (q >= 10) & (q <= 20) & (s >= 1) & (s <= 10))
        | ((b == "Brand#3") & (q >= 20) & (q <= 30) & (s >= 1) & (s <= 15))
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return j.filter(basket).agg(
        dsum(revenue, "revenue"), F.count(F.lit(1)).alias("n_rows"))


Q19_SQL = f"""
SELECT {SQL_DSUM.format(expr='l_extendedprice * (1 - l_discount)')} AS revenue,
       COUNT(*) AS n_rows
FROM lineitem, part
WHERE l_partkey = p_partkey
  AND ((p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
    OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
    OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15))
"""


# ----------------------------------------------------------------------
# q15 shape: aggregate once, select the argmax via a scalar subquery
# ----------------------------------------------------------------------

def q15_top_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier(s) with the maximum revenue in one quarter. The revenue
    aggregate is computed ONCE and reused for both the max (1-row
    broadcast) and the selection — the reference pattern (a view read
    twice) would scan lineitem twice."""
    li = (table(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= _ts("1996-01-01"))
                  & (F.col("l_shipdate") < _ts("1996-04-01"))))
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_supp = (li.groupBy("l_suppkey")
                .agg(dsum(revenue, "total_revenue")))
    max_rev = per_supp.agg(F.max("total_revenue").alias("mr"))
    return (
        per_supp.crossJoin(F.broadcast(max_rev))
        .filter(F.col("total_revenue") == F.col("mr"))
        .join(supp, F.col("l_suppkey") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


Q15_SQL = f"""
WITH rev AS (
  SELECT l_suppkey,
         {SQL_DSUM.format(expr='l_extendedprice * (1 - l_discount)')} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
"""

# ----------------------------------------------------------------------
# q17 shape: correlated per-group average threshold
# ----------------------------------------------------------------------

def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average yearly revenue lost to small orders: line items whose
    quantity is below 20% of their part's average quantity — TPC-H
    Q17's correlated scalar subquery, planned as ONE aggregation over
    lineitem joined back to lineitem (group-avg then join), never a
    per-row subquery execution."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice")
    part = (table(spark, sf_dir, "part")
            .filter(F.col("p_brand") == "Brand#3")
            .select("p_partkey"))
    avg_q = (li.groupBy(F.col("l_partkey").alias("a_partkey"))
             .agg((F.sum(F.col("l_quantity").cast("decimal(20,6)"))
                   .cast("double") / F.count("l_quantity")).alias("avg_qty")))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(avg_q, li.l_partkey == F.col("a_partkey"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg((F.sum(F.col("l_extendedprice").cast("decimal(20,6)"))
              .cast("double") / F.lit(7.0)).alias("avg_yearly"),
             F.count(F.lit(1)).alias("n_small"))
        .select(F.round("avg_yearly", 6).alias("avg_yearly"), "n_small")
    )


Q17_SQL = """
SELECT round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,6))) AS DOUBLE) / 7.0, 6)
         AS avg_yearly,
       COUNT(*) AS n_small
FROM lineitem l, part
WHERE l.l_partkey = p_partkey
  AND p_brand = 'Brand#3'
  AND l_quantity < 0.2 * (
    SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) / COUNT(l_quantity)
    FROM lineitem WHERE l_partkey = l.l_partkey)
"""


def recursive_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 SQL surface): generate the complete
    month spine between the first and last order date by recursion,
    then LEFT JOIN order counts — the gap-detecting calendar dimension
    every reporting pipeline needs (months with zero orders appear
    with n_orders = 0, which a plain GROUP BY can never produce).
    Recursion depth = month span (~80), driver-side trivial; the join
    and aggregate are ordinary distributed plans."""
    table(spark, sf_dir, "orders").createOrReplaceTempView(
        "__orders_spine")
    # the upper bound RIDES THE RECURSION as a carried column: a scalar
    # subquery in the step's WHERE would re-run the orders aggregate on
    # every one of the ~80 iterations (measured 15-25 s; carried-bound
    # form ~2 s) — the recursive twin of the HOF-capture rule
    return spark.sql("""
        WITH RECURSIVE bounds AS (
          SELECT date_trunc('MONTH', MIN(o_orderdate)) AS lo,
                 date_trunc('MONTH', MAX(o_orderdate)) AS hi
          FROM __orders_spine
        ),
        spine(m, hi) AS (
          SELECT lo, hi FROM bounds
          UNION ALL
          SELECT m + INTERVAL 1 MONTH, hi FROM spine WHERE m < hi
        )
        SELECT date_format(m, 'yyyy-MM') AS month,
               COUNT(o_orderkey) AS n_orders
        FROM spine LEFT JOIN __orders_spine
          ON date_trunc('MONTH', o_orderdate) = m
        GROUP BY 1
    """)


RECURSIVE_SPINE_SQL = """
WITH RECURSIVE spine(m) AS (
  SELECT (SELECT date_trunc('month', MIN(o_orderdate)) FROM orders)
  UNION ALL
  SELECT m + INTERVAL 1 MONTH FROM spine
  WHERE m < (SELECT date_trunc('month', MAX(o_orderdate)) FROM orders)
)
SELECT strftime(m, '%Y-%m') AS month, COUNT(o_orderkey) AS n_orders
FROM spine LEFT JOIN orders ON date_trunc('month', o_orderdate) = m
GROUP BY 1
"""


def lateral_topk_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL LATERAL correlated derived table (Spark 4 SQL surface): for
    each nation, the top-2 customers by account balance via a
    per-nation correlated subquery — the SQL-standard formulation of
    per-group top-k beside the window-function one
    (``latest3_orders_per_customer``). Catalyst decorrelates the
    LATERAL into a ranked join, so the plan is the same shuffle as the
    window form — the operator exists to pin the SQL surface."""
    table(spark, sf_dir, "nation").createOrReplaceTempView("__lat_nation")
    table(spark, sf_dir, "customer").createOrReplaceTempView("__lat_customer")
    return spark.sql("""
        SELECT n.n_name, t.c_name, t.c_acctbal
        FROM __lat_nation n,
        LATERAL (SELECT c_name, c_acctbal FROM __lat_customer c
                 WHERE c.c_nationkey = n.n_nationkey
                 ORDER BY c_acctbal DESC, c_name LIMIT 2) t
    """)


LATERAL_TOPK_SQL = """
SELECT n.n_name, t.c_name, t.c_acctbal
FROM nation n,
LATERAL (SELECT c_name, c_acctbal FROM customer c
         WHERE c.c_nationkey = n.n_nationkey
         ORDER BY c_acctbal DESC, c_name LIMIT 2) t
"""


def sql_api_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure ``spark.sql`` entry [EXT]: the same engine queried through
    registered temp views and one SQL string (status x priority revenue
    rollup) — pinning that the SQL API surface is first-class beside
    the DataFrame one; Catalyst plans both identically."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("__sql_orders")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(20,6))) AS DOUBLE)
                 AS revenue
        FROM __sql_orders
        GROUP BY o_orderstatus, o_orderpriority
    """)


SQL_API_ROLLUP_SQL = """
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(20,6))) AS DOUBLE) AS revenue
FROM orders
GROUP BY o_orderstatus, o_orderpriority
"""


def sql_api_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized ``spark.sql`` [EXT]: named bind parameters
    (``:minprice`` / ``:status``) instead of string interpolation — the
    injection-safe API a service layer uses for user-supplied
    predicates. Catalyst receives literals, so constant folding and
    pushdown behave exactly as with inlined values (same plan)."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("__sqlp_orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(20,2)))
                    AS DECIMAL(20,2)) AS revenue
        FROM __sqlp_orders
        WHERE o_totalprice >= :minprice AND o_orderstatus = :status
        GROUP BY o_orderpriority
        """,
        args={"minprice": 150000.0, "status": "O"})


SQL_API_PARAM_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(20,2))) AS DECIMAL(20,2))
         AS revenue
FROM orders
WHERE o_totalprice >= 150000.0 AND o_orderstatus = 'O'
GROUP BY o_orderpriority
"""


def sql_registered_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A VECTORIZED (Arrow-batched) pandas UDF registered as a SQL
    function and invoked from a plain SQL string — the path by which
    Python extensions become part of the SQL surface for analysts who
    never touch the DataFrame API. The kernel applies the engine's
    portable cent rule (floor(x*100+0.5)) on numpy arrays, so the
    summed output is exact BIGINT arithmetic and value-hash oracled;
    per-batch Arrow transfer keeps the Python boundary off the per-row
    path (same posture as every other UDF here — no row-at-a-time
    Python anywhere)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # lambda form: the module's postponed annotations turn `pd.Series`
    # hints into strings pandas_udf cannot resolve for eval-type
    # inference
    price_cents = pandas_udf(
        lambda p: pd.Series(np.floor(p.values * 100 + 0.5)
                            .astype("int64")),
        "bigint")
    spark.udf.register("price_cents", price_cents)
    table(spark, sf_dir, "orders").createOrReplaceTempView("__udf_orders")
    return spark.sql("""
        SELECT o_orderstatus, COUNT(*) AS n_orders,
               SUM(price_cents(o_totalprice)) AS total_cents
        FROM __udf_orders GROUP BY o_orderstatus
    """)


SQL_REGISTERED_UDF_SQL = """
SELECT o_orderstatus, COUNT(*) AS n_orders,
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders GROUP BY o_orderstatus
"""


def pandas_udaf_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized pandas UDAF (GROUPED_AGG eval type): a Series->scalar
    kernel aggregating per group through Arrow batches — the
    user-defined AGGREGATE cell of the Python UDF matrix (beside
    map/grouped-map/cogroup/state/UDTF/scalar). The kernel sums
    integer cents (floor(x*100+0.5)), so the result is exact BIGINT
    arithmetic and value-hash oracled. Custom distributive aggregates
    at 100 TB look exactly like this: partial aggregation per
    partition, merge by the same kernel."""
    import warnings

    import numpy as np

    from pyspark.sql.functions import pandas_udf, PandasUDFType

    with warnings.catch_warnings():
        # explicit eval type instead of type hints: the module's
        # postponed annotations break hint-based inference (see
        # sql_registered_pandas_udf); Spark warns about the old style
        warnings.simplefilter("ignore")
        cents_sum = pandas_udf(
            lambda p: int(np.floor(p.values * 100 + 0.5)
                          .astype("int64").sum()),
            "bigint", PandasUDFType.GROUPED_AGG)
        # GROUPED_AGG UDFs cannot mix with built-in aggregates in one
        # agg() (INVALID_PANDAS_UDF_PLACEMENT) — the row count is a
        # second kernel
        n_rows = pandas_udf(lambda p: len(p), "bigint",
                            PandasUDFType.GROUPED_AGG)
    o = table(spark, sf_dir, "orders")
    return (o.groupBy("o_orderstatus")
            .agg(n_rows("o_totalprice").alias("n_orders"),
                 cents_sum("o_totalprice").alias("total_cents")))


PANDAS_UDAF_SQL = """
SELECT o_orderstatus, COUNT(*) AS n_orders,
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders GROUP BY o_orderstatus
"""


def pandas_api_status_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas API on Spark (``pyspark.pandas``): the drop-in pandas
    surface compiled onto the same engine — read_parquet -> groupby ->
    named-agg -> reset_index -> to_spark, planned by Catalyst like any
    DataFrame query (distributed default index, no driver
    materialization). Aggregates are chosen hash-portable: count is
    integer, min/max return data values bit-identical in both engines
    (no float accumulation)."""
    import warnings

    import pyspark.pandas as ps

    with warnings.catch_warnings():
        # advice-level warnings about default index/index_col choices;
        # the distributed index is exactly what we want here
        warnings.simplefilter("ignore")
        ps.set_option("compute.default_index_type", "distributed")
        pdf = ps.read_parquet(f"{sf_dir}/orders.parquet")
        out = (pdf.groupby("o_orderstatus")
               .agg(n_orders=("o_orderkey", "count"),
                    max_price=("o_totalprice", "max"),
                    min_price=("o_totalprice", "min"))
               .reset_index())
        return out.to_spark()


PANDAS_API_SQL = """
SELECT o_orderstatus, COUNT(o_orderkey) AS n_orders,
       MAX(o_totalprice) AS max_price, MIN(o_totalprice) AS min_price
FROM orders GROUP BY o_orderstatus
"""


def sql_api_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4, GoogleSQL-style ``|>`` chains): the
    linear dataflow form of SQL — scan |> filter |> aggregate |>
    post-aggregation filter — matching how the DataFrame API (and this
    engine's declarative metadata pipelines) compose. Catalyst plans it
    identically to the nested GROUP BY/HAVING form the oracle uses, so
    the surface is pure syntax: same pushdown, same partial
    aggregation."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("__pipe_orders")
    return spark.sql("""
    FROM __pipe_orders
    |> WHERE o_orderstatus = 'O'
    |> AGGREGATE COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(20,2))) AS DECIMAL(20,2))
           AS revenue
       GROUP BY o_orderpriority
    |> WHERE n_orders >= 10
    """)


SQL_API_PIPE_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(20,2))) AS DECIMAL(20,2))
         AS revenue
FROM orders
WHERE o_orderstatus = 'O'
GROUP BY o_orderpriority
HAVING COUNT(*) >= 10
"""


def sql_api_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4 ANSI SQL/PSM): a BEGIN...END compound
    statement with DECLAREd variables and a WHILE loop — the
    stored-procedure-style control flow migrated workloads expect from
    a warehouse. The script searches the smallest 50k price threshold
    whose cumulative order share reaches 60%: each iteration runs one
    DISTRIBUTED count (the loop is driver-side control only, the work
    per step is a full Catalyst query), and the script's final SELECT
    is the result set ``spark.sql`` returns.

    The oracle derives the same fixpoint closed-form (min qualifying
    threshold over a generated step table) — loop semantics vs
    set semantics, identical integers."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("__sqls_orders")
    # spark.sql runs a script eagerly: the returned frame is the final
    # SELECT's rows, so the conf is only needed for this call
    with scoped_conf(spark, {"spark.sql.scripting.enabled": "true"}):
        return spark.sql("""
        BEGIN
          DECLARE thr BIGINT DEFAULT 0;
          DECLARE n_below BIGINT DEFAULT 0;
          DECLARE n_total BIGINT DEFAULT 0;
          SET n_total = (SELECT COUNT(*) FROM __sqls_orders);
          WHILE n_below * 10 < n_total * 6 DO
            SET thr = thr + 50000;
            SET n_below = (SELECT COUNT(*) FROM __sqls_orders
                           WHERE o_totalprice <= thr);
          END WHILE;
          SELECT thr AS threshold, n_below, n_total;
        END
        """)


SQL_API_SCRIPTING_SQL = """
WITH t AS (SELECT COUNT(*) AS n_total FROM orders),
steps AS (SELECT unnest(range(1, 100)) * 50000 AS thr),
counts AS (
  SELECT thr,
         (SELECT COUNT(*) FROM orders WHERE o_totalprice <= thr)
           AS n_below
  FROM steps
)
SELECT CAST(thr AS BIGINT) AS threshold, n_below,
       (SELECT n_total FROM t) AS n_total
FROM counts
WHERE n_below * 10 >= (SELECT n_total FROM t) * 6
ORDER BY thr LIMIT 1
"""


def sql_udf_order_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined scalar UDF (Spark 4 ``CREATE FUNCTION ... RETURN``)
    [EXT]: the tiering rule lives in the CATALOG as a SQL function —
    the warehouse's way to share business logic across queries without
    shipping Python — and is then used inside a grouped aggregate.
    Because the body is a SQL expression, Catalyst INLINES it: the
    function costs nothing at runtime and the optimizer sees through
    it (constant folding, pruning), unlike any Python UDF.

    The oracle restates the inlined CASE verbatim — which is exactly
    the semantics the catalog function declares."""
    spark.sql("""
      CREATE OR REPLACE TEMPORARY FUNCTION __order_tier(p DOUBLE)
      RETURNS STRING
      RETURN CASE WHEN p >= 300000 THEN 'platinum'
                  WHEN p >= 150000 THEN 'gold'
                  ELSE 'standard' END
    """)
    table(spark, sf_dir, "orders").createOrReplaceTempView("__sqlu_orders")
    return spark.sql(f"""
      SELECT __order_tier(o_totalprice) AS tier,
             COUNT(*) AS n_orders,
             {SQL_DSUM.format(expr='o_totalprice')} AS revenue
      FROM __sqlu_orders
      GROUP BY 1
    """)


SQL_UDF_TIERS_SQL = f"""
SELECT CASE WHEN o_totalprice >= 300000 THEN 'platinum'
            WHEN o_totalprice >= 150000 THEN 'gold'
            ELSE 'standard' END AS tier,
       COUNT(*) AS n_orders,
       {SQL_DSUM.format(expr='o_totalprice')} AS revenue
FROM orders
GROUP BY 1
"""


def observed_scan_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DataFrame.observe()`` metrics [EXT]: attach named aggregate
    METRICS to a transformation and collect them as a free rider on
    the pass that materializes it — the zero-extra-scan audit pattern
    (the engine's PipelineExecutor uses the same API for per-sink row
    accounting, ``executor.py``; this query exposes it on the
    contract surface).

    One filtered lineitem pass both counts its result AND emits the
    observation; the returned 1-row frame is the observation itself.
    The oracle recomputes the same aggregates as a plain query —
    observe() must be semantically invisible."""
    from pyspark.sql import Observation

    li = table(spark, sf_dir, "lineitem")
    obs = Observation("scan_audit")
    cents = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint")
    df = (li.filter(F.col("l_quantity") < 24)
          .observe(obs,
                   F.count(F.lit(1)).alias("n_rows"),
                   F.sum(cents).alias("sum_cents"),
                   F.min(cents).alias("min_cents"),
                   F.max(cents).alias("max_cents")))
    df.count()  # the action the metrics ride on
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["sum_cents"], m["min_cents"], m["max_cents"])],
        "n_rows long, sum_cents long, min_cents long, max_cents long")


OBSERVED_METRICS_SQL = """
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS sum_cents,
       CAST(MIN(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS min_cents,
       CAST(MAX(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS max_cents
FROM lineitem
WHERE l_quantity < 24
"""


def orders_status_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DataFrame.transpose()`` (Spark 4): flip a per-status metrics
    aggregate so statuses become COLUMNS and metric names become rows —
    the report orientation dashboards want, without hand-writing a
    pivot. Metrics are pre-cast to string (transpose requires a uniform
    value type); decimal money renders identically in both engines.
    The transposed frame is 2 x 4 — the operator collects the (tiny)
    aggregate to the driver by design, so it belongs AFTER aggregation,
    never on raw data (same rule as any to-driver materialization)."""
    o = table(spark, sf_dir, "orders")
    agg = (o.groupBy("o_orderstatus")
           .agg(F.count(F.lit(1)).cast("string").alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
                .cast("string").alias("total_price")))
    return agg.transpose()


TRANSPOSE_SQL = """
WITH agg AS (
  SELECT o_orderstatus AS s, COUNT(*) AS n,
         SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS tp
  FROM orders GROUP BY o_orderstatus
)
SELECT 'n_orders' AS key,
       CAST(MAX(CASE WHEN s = 'F' THEN n END) AS VARCHAR) AS F,
       CAST(MAX(CASE WHEN s = 'O' THEN n END) AS VARCHAR) AS O,
       CAST(MAX(CASE WHEN s = 'P' THEN n END) AS VARCHAR) AS P
FROM agg
UNION ALL
SELECT 'total_price',
       CAST(MAX(CASE WHEN s = 'F' THEN tp END) AS VARCHAR),
       CAST(MAX(CASE WHEN s = 'O' THEN tp END) AS VARCHAR),
       CAST(MAX(CASE WHEN s = 'P' THEN tp END) AS VARCHAR)
FROM agg
"""


def collated_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 string COLLATIONS: grouping on a ``UTF8_LCASE``-collated
    column merges case variants ENGINE-side — no lower() rewrite in the
    query, the collation is a property of the comparison. The fixture
    data is single-case, so the query first re-cases rows
    deterministically by key parity (odd part keys upper, even lower)
    to make the merge observable; the oracle states the same semantics
    the classic way (GROUP BY lower(x)).

    Scale: identical to any hash aggregate — the collated comparison
    changes the grouping hash function, not the shuffle topology."""
    p = table(spark, sf_dir, "part")
    mixed = F.when(F.col("p_partkey") % 2 == 0,
                   F.lower("p_type")).otherwise(F.upper("p_type"))
    return (p.select(F.collate(mixed, "UTF8_LCASE").alias("t"))
            .groupBy("t")
            .agg(F.count(F.lit(1)).alias("n_parts"))
            .select(F.lower(F.col("t")).cast("string").alias("p_type_lc"),
                    "n_parts"))


COLLATED_TYPE_SQL = """
SELECT lower(CASE WHEN p_partkey % 2 = 0 THEN lower(p_type)
                  ELSE upper(p_type) END) AS p_type_lc,
       COUNT(*) AS n_parts
FROM part
GROUP BY 1
"""


def region_nation_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4.1 ``listagg ... WITHIN GROUP (ORDER BY ...)``: ordered
    string aggregation as a first-class aggregate (the ANSI form of the
    sort_array+array_join idiom older Spark needed). Per region, the
    ordered comma list of its nations plus member count.

    Determinism comes from the WITHIN GROUP order clause — without it
    listagg concatenates in partition arrival order and no oracle could
    exist. Scale: a groupBy whose per-group state is the member list;
    safe only for bounded groups (here: nations per region), which is
    exactly what the inverted-index cap protects against elsewhere."""
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy("r_name")
            .agg(F.expr("listagg(n_name, ',') within group "
                        "(order by n_name)").alias("nations"),
                 F.count(F.lit(1)).cast("int").alias("n_nations")))


REGION_LISTAGG_SQL = """
SELECT r_name,
       string_agg(n_name, ',' ORDER BY n_name) AS nations,
       CAST(COUNT(*) AS INT) AS n_nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def ansi_safe_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 runs ANSI mode by default: division by zero, bigint
    overflow and bad casts RAISE instead of silently wrapping/nulling —
    and the ``try_*`` family is the row-level escape hatch that turns
    those errors back into NULLs without failing the job. This audit
    counts, per order priority, the rows each hazard would have killed:
    ``try_divide`` by a data-dependent zero, ``try_add`` at bigint max
    (overflow), ``try_cast`` of a non-numeric string. A 100 TB batch
    job cannot afford one poison row aborting stage retries — this is
    the quarantine-count report that justifies the try_* rewrite.

    The oracle states the same semantics as CASE algebra (DuckDB nulls
    rather than raises on int overflow only with explicit guards, so
    the guards ARE the specification). Integer outputs only."""
    o = table(spark, sf_dir, "orders")
    div_null = F.try_divide(F.col("o_totalprice"),
                            (F.col("o_custkey") % 5).cast("double"))
    add_null = F.try_add(F.lit(9223372036854775807).cast("bigint"),
                         F.col("o_custkey").cast("bigint"))
    cast_null = F.expr("try_cast(o_orderstatus AS INT)")
    return (o.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum(div_null.isNull().cast("int")).cast("bigint")
                 .alias("n_div_by_zero"),
                 F.sum(add_null.isNull().cast("int")).cast("bigint")
                 .alias("n_overflow"),
                 F.sum(cast_null.isNull().cast("int")).cast("bigint")
                 .alias("n_bad_cast")))


ANSI_SAFE_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_orders,
       CAST(SUM(CASE WHEN o_custkey % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_div_by_zero,
       CAST(SUM(CASE WHEN o_custkey > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_overflow,
       CAST(SUM(CASE WHEN TRY_CAST(o_orderstatus AS INT) IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_cast
FROM orders
GROUP BY o_orderpriority
"""


def order_status_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`mode(expr, deterministic := true)` — Spark 4's statistical-mode
    aggregate with the pinned tie rule (lowest value wins, verified by
    probe and by this oracle, which states the rule explicitly as
    max-count-then-min-value). Per order priority: the modal order
    status and how many rows carry it."""
    o = table(spark, sf_dir, "orders")
    modal = (o.groupBy("o_orderpriority")
             .agg(F.mode("o_orderstatus", True).alias("modal_status"),
                  F.count(F.lit(1)).alias("n_orders")))
    counts = (o.groupBy("o_orderpriority", "o_orderstatus")
              .agg(F.count(F.lit(1)).alias("n_modal")))
    return (modal.join(
        counts,
        (modal.o_orderpriority == counts.o_orderpriority)
        & (modal.modal_status == counts.o_orderstatus))
        .select(modal.o_orderpriority, "modal_status", "n_modal",
                "n_orders"))


ORDER_STATUS_MODE_SQL = """
WITH counts AS (
  SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n_modal,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY COUNT(*) DESC, o_orderstatus) AS r
  FROM orders GROUP BY 1, 2
), totals AS (
  SELECT o_orderpriority, COUNT(*) AS n_orders FROM orders GROUP BY 1
)
SELECT c.o_orderpriority, c.o_orderstatus AS modal_status, c.n_modal,
       t.n_orders
FROM counts c JOIN totals t ON c.o_orderpriority = t.o_orderpriority
WHERE c.r = 1
"""


def null_safe_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): the
    three-valued-logic corner where a plain equi-join silently DROPS
    null keys (NULL = NULL is unknown) while the null-safe operator
    matches them — the semantics a keyed reconciliation between two
    halves of a dataset needs when the key is nullable. The null-key
    row's presence in the output IS the test.

    Scale note: Spark plans `<=>` as an ordinary hash join (the null
    bucket hashes like any value); no nested loop appears."""
    o = table(spark, sf_dir, "orders")
    k = F.nullif(F.col("o_custkey") % 7, F.lit(0)).alias("k")
    even = (o.filter(F.col("o_orderkey") % 2 == 0).select(k)
            .groupBy("k").agg(F.count(F.lit(1)).alias("n_even")))
    odd = (o.filter(F.col("o_orderkey") % 2 == 1).select(k)
           .groupBy("k").agg(F.count(F.lit(1)).alias("n_odd")))
    return (even.alias("a").join(
        odd.alias("b"), F.col("a.k").eqNullSafe(F.col("b.k")))
        .select(F.col("a.k").cast("int").alias("k"), "n_even", "n_odd"))


NULL_SAFE_JOIN_SQL = """
WITH even AS (
  SELECT nullif(o_custkey % 7, 0) AS k, COUNT(*) AS n_even
  FROM orders WHERE o_orderkey % 2 = 0 GROUP BY 1
), odd AS (
  SELECT nullif(o_custkey % 7, 0) AS k, COUNT(*) AS n_odd
  FROM orders WHERE o_orderkey % 2 = 1 GROUP BY 1
)
SELECT CAST(a.k AS INT) AS k, n_even, n_odd
FROM even a JOIN odd b ON a.k IS NOT DISTINCT FROM b.k
"""


def orders_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-intelligence: month-over-same-month-last-year revenue
    growth — ``lag(12)`` over the month series, growth in integer ppm
    (BIGINT division of cents, no float ratio). Months with no
    prior-year counterpart emit NULL growth (the honest first-year
    answer). The monthly aggregate is the only data-sized shuffle; the
    lag window runs over the calendar-sized month frame."""
    o = table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
    monthly = (o.groupBy(F.date_format("o_orderdate", "yyyy-MM")
                         .alias("month"))
               .agg(F.sum(cents).alias("revenue_cents")))
    w = Window.orderBy("month")
    # growth can be NEGATIVE: both integer divisions truncate toward
    # zero (Spark DIV and DuckDB's integer //, verified empirically),
    # so the plain quotient hash-matches on down months too
    return (monthly
            .withColumn("lag_c", F.lag("revenue_cents", 12).over(w))
            .select("month", "revenue_cents",
                    F.expr("(revenue_cents - lag_c) * 1000000 DIV lag_c")
                    .cast("bigint").alias("yoy_growth_ppm")))


ORDERS_YOY_SQL = """
WITH monthly AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month,
         CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS revenue_cents
  FROM orders GROUP BY 1
)
SELECT month, revenue_cents,
       CAST((revenue_cents - lag(revenue_cents, 12) OVER (ORDER BY month))
            * 1000000 // lag(revenue_cents, 12) OVER (ORDER BY month)
            AS BIGINT) AS yoy_growth_ppm
FROM monthly
"""


def revenue_percent_of_parent(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Percent-of-parent hierarchy rollup: each nation's customer
    account-balance mass as an integer-ppm share of its region, with
    region totals alongside — the drill-down share column every BI
    hierarchy view carries. Shares divide BIGINT cents, the parent
    total comes from one window over the nation-cardinality frame."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    cents = F.floor(F.col("c_acctbal") * 100 + 0.5).cast("bigint")
    per_nation = (c.join(F.broadcast(n),
                         c.c_nationkey == n.n_nationkey)
                  .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
                  .groupBy("r_name", "n_name")
                  .agg(F.sum(cents).alias("nation_cents")))
    w = Window.partitionBy("r_name")
    return (per_nation
            .withColumn("region_cents",
                        F.sum("nation_cents").over(w).cast("bigint"))
            .select("r_name", "n_name", "nation_cents", "region_cents",
                    F.expr(ppm("nation_cents", "region_cents"))
                    .alias("share_ppm")))


PCT_OF_PARENT_SQL = """
WITH per_nation AS (
  SELECT r_name, n_name,
         CAST(SUM(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS nation_cents
  FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY 1, 2
)
SELECT r_name, n_name, nation_cents,
       CAST(SUM(nation_cents) OVER (PARTITION BY r_name) AS BIGINT)
         AS region_cents,
       CAST(nation_cents * 1000000 //
            SUM(nation_cents) OVER (PARTITION BY r_name) AS BIGINT)
         AS share_ppm
FROM per_nation
"""


def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic CRM/customer-value op: per
    customer, Recency (days since last order), Frequency (order
    count) and Monetary (total cents) are each quintiled (``ntile(5)``
    semantics, ties broken on the customer key so the binning is
    deterministic), and the output reports customers per RFM cell.

    Scale: one orders aggregate, then each dimension gets an EXACT
    global rank from ``scaleops.global_row_number`` (range-repartition
    + partition offsets — fully parallel) and the ntile bucket is pure
    arithmetic on (rank, n): with q = n DIV 5, r = n MOD 5, the first
    r tiles hold q+1 rows, so tile = ceil(rank/(q+1)) in the first
    r*(q+1) ranks and r + ceil((rank - r*(q+1))/q) after. This is
    bit-identical to the oracle's ``ntile(5)`` window but replaces the
    r6-VERDICT-flagged single-task un-partitioned ``ntile`` x3 plan —
    no global window touches the customer-cardinality frame."""
    from spark_kafka_airflow_pipeline_spark.operators.scaleops import (
        global_row_number,
    )

    o = table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
    per_cust = (o.groupBy("o_custkey")
                .agg(F.max("o_orderdate").alias("last_order"),
                     F.count(F.lit(1)).alias("freq"),
                     F.sum(cents).alias("monetary")))
    ranked = global_row_number(
        per_cust, F.col("last_order").desc(), F.col("o_custkey"),
        out="rn_r")
    ranked = global_row_number(
        ranked, F.col("freq").desc(), F.col("o_custkey"), out="rn_f")
    ranked = global_row_number(
        ranked, F.col("monetary").desc(), F.col("o_custkey"), out="rn_m")
    n_total = per_cust.agg(F.count(F.lit(1)).alias("n"))
    with_n = ranked.crossJoin(F.broadcast(n_total))

    def tile(rn: str) -> Column:
        # exact ntile(5) arithmetic over (global rank, total n)
        return F.expr(
            f"CAST(CASE WHEN {rn} <= (n % 5) * (n DIV 5 + 1) "
            f"THEN ({rn} + n DIV 5) DIV (n DIV 5 + 1) "
            f"ELSE n % 5 + ({rn} - (n % 5) * (n DIV 5 + 1) "
            f"+ n DIV 5 - 1) DIV (n DIV 5) END AS INT)")

    scored = (with_n
              .withColumn("r", tile("rn_r"))
              .withColumn("f", tile("rn_f"))
              .withColumn("m", tile("rn_m")))
    return (scored.groupBy("r", "f", "m")
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 F.sum("monetary").cast("bigint").alias("cell_cents"))
            .select(F.concat_ws("-", "r", "f", "m").alias("rfm_cell"),
                    "n_customers", "cell_cents"))


RFM_SQL = """
WITH per_cust AS (
  SELECT o_custkey, MAX(o_orderdate) AS last_order,
         COUNT(*) AS freq,
         CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS monetary
  FROM orders GROUP BY o_custkey
), scored AS (
  SELECT o_custkey, monetary,
         ntile(5) OVER (ORDER BY last_order DESC, o_custkey) AS r,
         ntile(5) OVER (ORDER BY freq DESC, o_custkey) AS f,
         ntile(5) OVER (ORDER BY monetary DESC, o_custkey) AS m
  FROM per_cust
)
SELECT r || '-' || f || '-' || m AS rfm_cell,
       COUNT(*) AS n_customers,
       CAST(SUM(monetary) AS BIGINT) AS cell_cents
FROM scored GROUP BY 1
"""


#: Poisson(1) inverse-CDF thresholds in 16^6 units (floor(CDF(k) *
#: 16^6) for k = 0..5; draws above the last threshold clamp to 6) —
#: fixed literals so both engines draw the identical bootstrap weights
_POISSON1_CDF_16_6 = (6171992, 12343985, 15429982, 16458647,
                      16715813, 16767247)


def bootstrap_mean_ci(spark: SparkSession, sf_dir: str,
                      n_reps: int = 32) -> DataFrame:
    """Poisson bootstrap — THE distributed bootstrap (per-row
    independent Poisson(1) resample weights, no global n needed): 32
    replicate means of the order value, reported as a point estimate
    with an empirical [2nd, 31st]-order-statistic interval. The
    uncertainty attachment a mean in a 100 TB report needs.

    Deterministic, hence fully ORACLED: each (row, replicate) draws
    its weight by inverting the Poisson(1) CDF at a 6-hex md5 uniform
    against fixed integer thresholds — both engines produce the
    identical resample, so even the "random" interval is value-hash
    pinned. Scale: one 32x fan-out explode into a 32-row aggregate;
    the order-statistic pass ranks a 32-row frame."""
    o = table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
    u = ("CAST(conv(substring(md5(concat(CAST(o_orderkey AS STRING), "
         "':bs:', CAST(r AS STRING))), 1, 6), 16, 10) AS BIGINT)")
    w = "CASE " + " ".join(
        f"WHEN {u} < {t} THEN {k}"
        for k, t in enumerate(_POISSON1_CDF_16_6)) + " ELSE 6 END"
    reps = (o.select(cents.alias("cents"),
                     F.col("o_orderkey"),
                     F.explode(F.sequence(
                         F.lit(0), F.lit(n_reps - 1))).alias("r"))
            .select("cents", "r", F.expr(w).cast("bigint").alias("w")))
    boot = (reps.groupBy("r")
            .agg(F.sum("w").alias("sw"),
                 F.sum(F.col("w") * F.col("cents")).alias("swc"))
            .select("r", F.expr("swc DIV sw").alias("mean_cents")))
    ranked = boot.withColumn(
        "rk", F.row_number().over(
            Window.orderBy("mean_cents", "r")))  # 32-row frame
    summary = ranked.agg(
        F.max(F.when(F.col("rk") == 2, F.col("mean_cents")))
        .alias("boot_lo_cents"),
        F.max(F.when(F.col("rk") == n_reps - 1, F.col("mean_cents")))
        .alias("boot_hi_cents"))
    point = o.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.expr("CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS "
               "BIGINT)) DIV COUNT(*) AS BIGINT)")
        .alias("point_mean_cents"))
    return (point.crossJoin(F.broadcast(summary))
            .select("n_orders", "point_mean_cents",
                    "boot_lo_cents", "boot_hi_cents"))


def _bootstrap_sql() -> str:
    u = ("('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || ':bs:' "
         "|| CAST(r AS VARCHAR)), 1, 6))::BIGINT")
    w = "CASE " + " ".join(
        f"WHEN {u} < {t} THEN {k}"
        for k, t in enumerate(_POISSON1_CDF_16_6)) + " ELSE 6 END"
    return f"""
WITH reps AS (
  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         CAST(r AS INT) AS r, CAST({w} AS BIGINT) AS w
  FROM orders, (SELECT unnest(range(0, 32)) AS r)
), boot AS (
  SELECT r, CAST(SUM(w * cents) // SUM(w) AS BIGINT) AS mean_cents
  FROM reps GROUP BY r
), ranked AS (
  SELECT mean_cents,
         ROW_NUMBER() OVER (ORDER BY mean_cents, r) AS rk
  FROM boot
), summary AS (
  SELECT MAX(CASE WHEN rk = 2 THEN mean_cents END) AS boot_lo_cents,
         MAX(CASE WHEN rk = 31 THEN mean_cents END) AS boot_hi_cents
  FROM ranked
), point AS (
  SELECT COUNT(*) AS n_orders,
         CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
              // COUNT(*) AS BIGINT) AS point_mean_cents
  FROM orders
)
SELECT n_orders, point_mean_cents, boot_lo_cents, boot_hi_cents
FROM point, summary
"""


def orders_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-of-year seasonal index — the time-intelligence companion
    of ``orders_yoy_growth``: revenue cents per calendar month
    (aggregated across all years) expressed against the uniform
    1/12th share in integer ppm (1,000,000 = exactly average month).

    Scale: one scan into a 12-row aggregate; the index is arithmetic
    against the broadcast 1-row total."""
    o = table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
    monthly = (o.groupBy(F.month("o_orderdate").alias("month"))
               .agg(F.sum(cents).alias("month_cents"),
                    F.count(F.lit(1)).alias("n_orders")))
    total = monthly.agg(F.sum("month_cents").cast("bigint").alias("total"))
    return (monthly.crossJoin(F.broadcast(total))
            .select("month", "n_orders",
                    F.col("month_cents").cast("bigint").alias("month_cents"),
                    F.expr(ppm("month_cents", "total", 12_000_000))
                    .alias("season_index_ppm")))


SEASONALITY_SQL = """
WITH monthly AS (
  SELECT CAST(month(o_orderdate) AS INT) AS month,
         CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS month_cents,
         COUNT(*) AS n_orders
  FROM orders GROUP BY 1
)
SELECT month, n_orders, month_cents,
       CAST(month_cents * 12 * 1000000 //
            (SELECT CAST(SUM(month_cents) AS BIGINT) FROM monthly)
         AS BIGINT) AS season_index_ppm
FROM monthly
"""


def order_fulfillment_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-stabbing as delta events — how many lineitems are OPEN
    (between their two lifecycle dates) on each calendar day. The
    naive form is a per-day range join (`day BETWEEN start AND end`,
    quadratic); instead each lineitem emits +1 at its interval start
    and -1 at its end, daily net changes aggregate linearly, and the
    running backlog is one cumulative window over the
    CALENDAR-bounded daily frame — the temporal state reconstruction
    pattern (same family as SCD2 validity). The interval is
    ``[least(order, ship), greatest(order, ship))`` because the
    synthetic dates are uncorrelated (47% ship "before" ordering);
    on real data least/greatest is the identity.

    Scale: one orderkey equi-join (bucketable), one explode to 2 rows
    per lineitem, a (day)-grain aggregate, and a window whose frame is
    bounded by the date range regardless of data volume."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = (table(spark, sf_dir, "lineitem")
          .select("l_orderkey", "l_shipdate"))
    lo = F.least(F.to_date("o_orderdate"), F.to_date("l_shipdate"))
    hi = F.greatest(F.to_date("o_orderdate"), F.to_date("l_shipdate"))
    deltas = (li.join(o, li.l_orderkey == o.o_orderkey)
              .select(F.explode(F.array(
                  F.struct(lo.alias("day"), F.lit(1).alias("d")),
                  F.struct(hi.alias("day"),
                           F.lit(-1).alias("d")))).alias("e"))
              .select("e.day", "e.d"))
    daily = (deltas.groupBy("day")
             .agg(F.sum("d").cast("bigint").alias("net_change")))
    w = (Window.orderBy("day")
         .rowsBetween(Window.unboundedPreceding, 0))
    return (daily
            .withColumn("open_lineitems",
                        F.sum("net_change").over(w).cast("bigint"))
            .select(F.date_format("day", "yyyy-MM-dd").alias("day"),
                    "net_change", "open_lineitems"))


FULFILLMENT_BACKLOG_SQL = """
WITH deltas AS (
  SELECT LEAST(CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))
           AS day, 1 AS d
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  UNION ALL
  SELECT GREATEST(CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))
           AS day, -1 AS d
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), daily AS (
  SELECT day, CAST(SUM(d) AS BIGINT) AS net_change
  FROM deltas GROUP BY day
)
SELECT strftime(day, '%Y-%m-%d') AS day, net_change,
       CAST(SUM(net_change) OVER (ORDER BY day
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS open_lineitems
FROM daily
"""


PAIR_MINSUP = 2


def frequent_part_pairs(spark: SparkSession, sf_dir: str,
                        minsup: int = PAIR_MINSUP) -> DataFrame:
    """Market-basket mining [EXT]: part pairs that co-occur in at least
    ``minsup`` orders, with their association LIFT — the level-2
    Apriori pass (frequent itemsets of size 2) every recommender /
    cross-sell analysis starts from.

    Spark-first shape with the two classic scale guards:

    * **Apriori candidate pruning**: the basket relation is filtered to
      FREQUENT items (item support >= minsup) *before* the pair
      self-join — the anti-monotone property says an infrequent item
      cannot appear in a frequent pair, so the join input shrinks to
      exactly the items that can matter (at a production minsup of
      0.01% of baskets this is the difference between joining 20k hot
      items and 10M tail items).
    * **Bounded pair fan-out**: pairs are generated per basket from a
      per-order SORTED item set (one ``collect_set`` aggregate keyed
      on the order key) expanded by a higher-order flatten/transform
    with ``p1 < p2`` — per-order work is
      C(lines_per_order, 2) <= ~21 (TPC-H baskets cap at 7 lines), so
      pair volume grows LINEARLY with lineitem volume, never
      quadratically with catalog size. r18: this replaces the former
      basket self-join on the order key — the r17 reasoning that a
      collect-per-basket form would be worse was MEASURED WRONG
      (verdict ask #5): the HOF form emits the identical pair
      multiset with 19 -> 15 Exchanges / 5 -> 3 joins and an
      interleaved A/B at sf0.1 of median 3.59s -> 2.44s (outputs
      exceptAll-identical both ways; per-basket state stays bounded
      by lines-per-order, never corpus-sized). Both the pair count
      and the item-count join-back shuffle on part keys (no
      broadcast: the part dimension scales with SF — PLANS.md
      posture).

    Lift is exact integral ppm through DECIMAL(38,0) (``base.ppm``
    overflow discipline): lift = support * n_baskets / (n1 * n2), so
    lift_ppm > 1_000_000 means the pair co-occurs MORE than independent
    purchase would predict. Columns: part1 < part2, support, n1, n2,
    lift_ppm.
    """
    op = (table(spark, sf_dir, "lineitem")
          .select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").alias("pk"))
          .distinct())
    item = op.groupBy("pk").agg(F.count(F.lit(1)).alias("n"))
    frequent = item.filter(F.col("n") >= minsup)
    fop = op.join(frequent, "pk").select("ok", "pk")
    sets = fop.groupBy("ok").agg(F.sort_array(F.collect_set("pk"))
                                 .alias("ps"))
    pairs = (sets.select(F.explode(F.expr(
                 "flatten(transform(ps, (x, i) -> transform("
                 "slice(ps, i + 2, greatest(size(ps) - i - 1, 0)), "
                 "y -> struct(x AS part1, y AS part2))))")).alias("p"))
             .select("p.part1", "p.part2")
             .groupBy("part1", "part2")
             .agg(F.count(F.lit(1)).alias("support"))
             .filter(F.col("support") >= minsup))
    tot = op.agg(F.countDistinct("ok").alias("n_baskets"))
    n1 = frequent.select(F.col("pk").alias("part1"), F.col("n").alias("n1"))
    n2 = frequent.select(F.col("pk").alias("part2"), F.col("n").alias("n2"))
    return (pairs.join(n1, "part1").join(n2, "part2")
            .crossJoin(F.broadcast(tot))
            .select("part1", "part2", "support", "n1", "n2",
                    F.expr(ppm("CAST(support AS DECIMAL(38,0)) * n_baskets",
                               "n1 * n2")).alias("lift_ppm")))


FREQUENT_PAIRS_SQL = f"""
WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
            FROM lineitem),
item AS (SELECT pk, COUNT(*) AS n FROM op GROUP BY pk),
frequent AS (SELECT pk, n FROM item WHERE n >= {PAIR_MINSUP}),
fop AS (SELECT op.ok, op.pk FROM op JOIN frequent USING (pk)),
pairs AS (
  SELECT a.pk AS part1, b.pk AS part2, COUNT(*) AS support
  FROM fop a JOIN fop b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY 1, 2
  HAVING COUNT(*) >= {PAIR_MINSUP}
),
tot AS (SELECT COUNT(DISTINCT ok) AS n_baskets FROM op)
SELECT part1, part2, CAST(support AS BIGINT) AS support,
       CAST(f1.n AS BIGINT) AS n1, CAST(f2.n AS BIGINT) AS n2,
       CAST(support * n_baskets * 1000000 // (f1.n * f2.n) AS BIGINT)
         AS lift_ppm
FROM pairs
JOIN frequent f1 ON f1.pk = part1
JOIN frequent f2 ON f2.pk = part2
CROSS JOIN tot
"""


def holt_forecast_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt LINEAR (double-exponential) smoothing of monthly order
    revenue [EXT] — level + trend recursion with alpha=0.2, beta=0.1,
    one-step-ahead forecasts and residuals. The classic ops-forecast
    every capacity planner runs on a revenue series.

    A smoothing recursion is NOT window-expressible (each state
    depends on the previous output, not the previous input), so the
    engine folds it with a higher-order ``aggregate`` lambda over the
    sorted month array — pure JVM, one pass, deterministic; the oracle
    is a DuckDB RECURSIVE CTE running the identical INTEGER-CENTS
    update (``l' = (2y + 8(l+b)) DIV 10``, ``b' = (l'-l+9b) DIV 10``,
    truncation toward zero in both engines), so no float ever enters
    the recursion.

    Scale: the fold input is the (month, cents) aggregate — CALENDAR-
    bounded, a few hundred rows at any data size — collected into ONE
    array cell; everything before it is a mergeable groupBy."""
    o = table(spark, sf_dir, "orders")
    monthly = (o.groupBy(F.date_format(F.to_date("o_orderdate"), "yyyy-MM")
                         .alias("mo"))
               .agg(F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5)
                          .cast("bigint")).alias("y")))
    arr = monthly.agg(F.sort_array(F.collect_list(F.struct("mo", "y")))
                      .alias("a"))
    folded = arr.select(F.expr("""
        aggregate(
          a,
          named_struct('l', CAST(NULL AS BIGINT), 'b', CAST(0 AS BIGINT),
                       'rows', CAST(array() AS
                         ARRAY<STRUCT<mo: STRING, y: BIGINT, l: BIGINT,
                                      b: BIGINT, f: BIGINT>>)),
          (acc, x) -> CASE WHEN acc.l IS NULL THEN
              named_struct('l', x.y, 'b', CAST(0 AS BIGINT),
                'rows', array(named_struct('mo', x.mo, 'y', x.y,
                  'l', x.y, 'b', CAST(0 AS BIGINT), 'f', x.y)))
            ELSE
              named_struct(
                'l', (2 * x.y + 8 * (acc.l + acc.b)) div 10,
                'b', ((2 * x.y + 8 * (acc.l + acc.b)) div 10
                      - acc.l + 9 * acc.b) div 10,
                'rows', array_append(acc.rows, named_struct(
                  'mo', x.mo, 'y', x.y,
                  'l', (2 * x.y + 8 * (acc.l + acc.b)) div 10,
                  'b', ((2 * x.y + 8 * (acc.l + acc.b)) div 10
                        - acc.l + 9 * acc.b) div 10,
                  'f', acc.l + acc.b)))
            END
        ).rows""").alias("rows"))
    return (folded.select(F.explode("rows").alias("r"))
            .select(F.col("r.mo").alias("month"),
                    F.col("r.y").alias("y_cents"),
                    F.col("r.l").alias("level_cents"),
                    F.col("r.b").alias("trend_cents"),
                    F.col("r.f").alias("forecast_cents"),
                    (F.col("r.y") - F.col("r.f")).alias("err_cents")))


HOLT_SQL = """
WITH RECURSIVE monthly AS (
  SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS mo,
         CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS y
  FROM orders GROUP BY 1
), ord AS (
  SELECT mo, y, ROW_NUMBER() OVER (ORDER BY mo) AS i FROM monthly
), rec(i, mo, y, l, b, f) AS (
  SELECT i, mo, y, y, 0::BIGINT, y FROM ord WHERE i = 1
  UNION ALL
  SELECT o.i, o.mo, o.y,
         (2 * o.y + 8 * (r.l + r.b)) // 10,
         ((2 * o.y + 8 * (r.l + r.b)) // 10 - r.l + 9 * r.b) // 10,
         r.l + r.b
  FROM rec r JOIN ord o ON o.i = r.i + 1
)
SELECT mo AS month, y AS y_cents, l AS level_cents, b AS trend_cents,
       f AS forecast_cents, y - f AS err_cents
FROM rec
"""


def brand_price_size_regression(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Grouped ORDINARY-LEAST-SQUARES regression [EXT]: per brand, fit
    ``retailprice = a + b * size`` and report slope, intercept and R²
    — the SQL-native ``REGR_SLOPE/REGR_INTERCEPT/REGR_R2`` family.
    Distinct from ``events.value_trend_by_type`` (slope/intercept
    only, double sums): this adds the goodness-of-fit R² and armors
    every moment in DECIMAL(38,0) for the overflow regime,
    computed here from EXACT integer moments (price in cents, size as
    BIGINT: Sx, Sy, Sxx, Syy, Sxy are all integer sums) so the only
    floating-point steps are the three final divisions — identical
    single-operation order in both engines, rounded to 6dp micros.
    The moment form is also the 100 TB form: five mergeable integer
    sums per group, full partial aggregation, no second pass.  The
    sums are carried as DECIMAL(38,0) on the Spark side (Σy² at cents
    scale exceeds BIGINT near ~1e10 rows/group; DuckDB's SUM(BIGINT)
    is already HUGEINT) — at oracle SFs every moment fits in 2^53 so
    the DOUBLE conversions before the single division are exact in
    both engines.

    Degenerate groups (all sizes equal → zero variance) emit NULL
    slope/intercept/r2 via the CASE guard rather than dividing by
    zero — engine-identical."""
    p = table(spark, sf_dir, "part")
    m = (p.select(
        "p_brand",
        F.col("p_size").cast("bigint").alias("x"),
        F.floor(F.col("p_retailprice") * 100 + 0.5).cast("bigint")
        .alias("y"))
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
             F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
             F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)"))
             .alias("sxx"),
             F.sum((F.col("y") * F.col("y")).cast("decimal(38,0)"))
             .alias("syy"),
             F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)"))
             .alias("sxy")))
    cov = "(n * sxy - sx * sy)"
    varx = "(n * sxx - sx * sx)"
    vary = "(n * syy - sy * sy)"
    return (m.select(
        "p_brand", "n",
        F.expr(
            f"CASE WHEN {varx} = 0 THEN NULL ELSE "
            f"CAST(floor(round({cov} / CAST({varx} AS DOUBLE), 6)"
            " * 1000000 + 0.5) AS BIGINT) END")
        .alias("slope_cents_micros"),
        F.expr(
            f"CASE WHEN {varx} = 0 THEN NULL ELSE "
            f"CAST(floor(round((sy - ({cov} / CAST({varx} AS DOUBLE))"
            " * sx) / n, 6) * 1000000 + 0.5) AS BIGINT) END")
        .alias("intercept_cents_micros"),
        F.expr(
            f"CASE WHEN {varx} = 0 OR {vary} = 0 THEN NULL ELSE "
            f"CAST(floor(round({cov} * {cov}"
            f" / (CAST({varx} AS DOUBLE) * {vary}), 6)"
            " * 1000000 + 0.5) AS BIGINT) END")
        .alias("r2_micros"))
        .orderBy("p_brand"))


BRAND_REGRESSION_SQL = """
WITH m AS (
  SELECT p_brand, COUNT(*) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM (SELECT p_brand, CAST(p_size AS BIGINT) AS x,
               CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS y
        FROM part)
  GROUP BY p_brand
)
SELECT p_brand, n,
       CASE WHEN (n * sxx - sx * sx) = 0 THEN NULL ELSE
         CAST(floor(round((n * sxy - sx * sy)
                          / CAST(n * sxx - sx * sx AS DOUBLE), 6)
                    * 1000000 + 0.5) AS BIGINT) END
         AS slope_cents_micros,
       CASE WHEN (n * sxx - sx * sx) = 0 THEN NULL ELSE
         CAST(floor(round((sy - ((n * sxy - sx * sy)
                                 / CAST(n * sxx - sx * sx AS DOUBLE))
                                * sx) / n, 6)
                    * 1000000 + 0.5) AS BIGINT) END
         AS intercept_cents_micros,
       CASE WHEN (n * sxx - sx * sx) = 0 OR (n * syy - sy * sy) = 0
            THEN NULL ELSE
         CAST(floor(round((n * sxy - sx * sy) * (n * sxy - sx * sy)
                          / (CAST(n * sxx - sx * sx AS DOUBLE)
                             * (n * syy - sy * sy)), 6)
                    * 1000000 + 0.5) AS BIGINT) END
         AS r2_micros
FROM m
ORDER BY p_brand
"""


def pareto_frontier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand PARETO FRONTIER (skyline query) [EXT]: the parts not
    dominated on (price low, size high) by any other part of the same
    brand — the classic multi-objective "best tradeoff" operator
    (Börzsönyi et al., ICDE 2001), composed from relational ops: 2D
    skylines reduce to a sort + strict running max.

    Shape: (1) groupBy (brand, price-cent level) → max size — the
    only row that can be on the frontier at each price; (2) a window
    per brand ordered by price with a 1-PRECEDING running max of
    size: a level survives iff its size strictly exceeds every
    cheaper level's max; (3) join back to emit the winning partkeys
    (ties on (price, size) are all non-dominated and all kept).

    Scale: the window input is the price-LEVEL table — bounded by the
    price domain (<= 200k distinct cents per brand regardless of row
    count), not by data size; partitioned by brand. The join back is
    a shuffle join on (brand, price, size)."""
    p = (table(spark, sf_dir, "part")
         .select("p_partkey", "p_brand", "p_size",
                 F.floor(F.col("p_retailprice") * 100 + 0.5)
                 .cast("bigint").alias("price_cents")))
    levels = (p.groupBy("p_brand", "price_cents")
              .agg(F.max("p_size").alias("level_size")))
    w = (Window.partitionBy("p_brand").orderBy("price_cents")
         .rowsBetween(Window.unboundedPreceding, -1))
    frontier = (levels
                .withColumn("best_cheaper",
                            F.coalesce(F.max("level_size").over(w),
                                       F.lit(-1)))
                .filter(F.col("level_size") > F.col("best_cheaper"))
                .select("p_brand", "price_cents",
                        F.col("level_size").alias("p_size")))
    return (p.join(frontier, ["p_brand", "price_cents", "p_size"])
            .select("p_brand", "p_partkey", "price_cents",
                    F.col("p_size").cast("int").alias("p_size"))
            .orderBy("p_brand", "price_cents", "p_partkey"))


PARETO_FRONTIER_SQL = """
WITH p AS (
  SELECT p_partkey, p_brand, p_size,
         CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS price_cents
  FROM part
), levels AS (
  SELECT p_brand, price_cents, MAX(p_size) AS level_size
  FROM p GROUP BY 1, 2
), frontier AS (
  SELECT p_brand, price_cents, level_size AS p_size
  FROM (SELECT *,
               COALESCE(MAX(level_size) OVER (
                 PARTITION BY p_brand ORDER BY price_cents
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                 AS best_cheaper
        FROM levels)
  WHERE level_size > best_cheaper
)
SELECT p.p_brand, p.p_partkey, p.price_cents, CAST(p.p_size AS INT) AS p_size
FROM p JOIN frontier f
  ON p.p_brand = f.p_brand AND p.price_cents = f.price_cents
 AND p.p_size = f.p_size
ORDER BY p.p_brand, p.price_cents, p.p_partkey
"""


def orders_peak_concurrency(spark: SparkSession, sf_dir: str,
                            ttl_days: int = 30) -> DataFrame:
    """PEAK CONCURRENT open orders per (priority, month) [EXT] — the
    interval-overlap sweep: each order is active for ``ttl_days`` from
    its order date; concurrency at day grain is the running sum of
    (+starts − expiries), and each month reports its peak. The classic
    max-concurrent-sessions / resource-capacity query, built WITHOUT
    expanding each interval into its days (the naive 30x row blowup):
    +1/−1 delta rows per order, day-level aggregation, then a
    calendar-bounded prefix sum.

    A month's peak can be INHERITED: concurrency carried in from the
    previous month's tail exceeds every within-month delta-day value
    whenever the first delta of the month is an expiry.  A zero-delta
    month-start spine row per (priority, month) materializes the
    carry-in in the running sum, so inherited peaks are counted
    (pinned by ``test_peak_concurrency_matches_day_expansion``).

    Scale: the window input is (priority x day) — bounded by the
    calendar (~2,500 days x 5 priorities), never by order count; all
    order-scale work is plain groupBy; the spine derives from a
    per-priority min/max aggregate. The r6 RFM lesson does NOT apply:
    the aggregate grouping is domain-bounded."""
    o = table(spark, sf_dir, "orders")
    starts = (o.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.to_date("o_orderdate").alias("day"))
        .agg(F.count(F.lit(1)).alias("delta")))
    ends = (o.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.date_add(F.to_date("o_orderdate"), ttl_days).alias("day"))
        .agg((-F.count(F.lit(1))).alias("delta")))
    spine = (starts.unionByName(ends)
             .groupBy("priority")
             .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
             .select("priority", F.explode(F.expr(
                 "sequence(trunc(d0, 'MM'), trunc(d1, 'MM'),"
                 " interval 1 month)")).alias("day"),
                 F.lit(0).cast("bigint").alias("delta")))
    deltas = (starts.unionByName(ends).unionByName(spine)
              .groupBy("priority", "day")
              .agg(F.sum("delta").alias("delta")))
    w = (Window.partitionBy("priority").orderBy("day")
         .rowsBetween(Window.unboundedPreceding, 0))
    daily = deltas.withColumn("active", F.sum("delta").over(w))
    return (daily.groupBy(
        "priority", F.date_format("day", "yyyy-MM").alias("month"))
        .agg(F.max("active").cast("bigint").alias("peak_active"))
        .orderBy("priority", "month"))


PEAK_CONCURRENCY_SQL = """
WITH starts AS (
  SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE) AS day,
         COUNT(*) AS delta
  FROM orders GROUP BY 1, 2
), ends AS (
  SELECT o_orderpriority AS priority,
         CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS day,
         -COUNT(*) AS delta
  FROM orders GROUP BY 1, 2
), spine AS (
  SELECT priority,
         unnest(generate_series(date_trunc('month', d0),
                                date_trunc('month', d1),
                                INTERVAL 1 MONTH))::DATE AS day,
         0 AS delta
  FROM (SELECT priority, MIN(day) AS d0, MAX(day) AS d1
        FROM (SELECT * FROM starts UNION ALL SELECT * FROM ends)
        GROUP BY priority)
), deltas AS (
  SELECT priority, day, SUM(delta) AS delta
  FROM (SELECT * FROM starts UNION ALL SELECT * FROM ends
        UNION ALL SELECT * FROM spine)
  GROUP BY 1, 2
), daily AS (
  SELECT priority, day,
         SUM(delta) OVER (PARTITION BY priority ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS active
  FROM deltas
)
SELECT priority, strftime(day, '%Y-%m') AS month,
       CAST(MAX(active) AS BIGINT) AS peak_active
FROM daily
GROUP BY 1, 2
ORDER BY priority, month
"""


def association_rules_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed association rules from the frequent pairs — the actual
    RECOMMENDER output on top of ``frequent_part_pairs``: each
    undirected frequent pair {A, B} yields both rules A=>B and B=>A
    with confidence(A=>B) = support / n(A) (how often baskets with the
    antecedent also contain the consequent). Lift is symmetric and
    carried through from the pair. The rule table is what a cross-sell
    engine ranks and thresholds; the pair table alone has no
    direction.

    Built BY CALLING ``frequent_part_pairs`` (single Apriori
    implementation — the r8 ADVICE lesson on duplicated banding);
    confidence_ppm = ``base.ppm`` integral floor, hash-exact.

    Scale: the direction fan-out is an EXPLODE of a 2-struct array on
    each pair row — ONE evaluation of the pair pipeline. (The naive
    union of two projections of the same frame plans the whole
    Apriori pipeline twice: 28 parquet scans vs this form's 14,
    measured on the pre-AQE formatted plan.)"""
    pairs = frequent_part_pairs(spark, sf_dir)

    def rule(ante, cons, n):
        return F.struct(
            F.col(ante).alias("antecedent"), F.col(cons).alias("consequent"),
            F.col("support"),
            F.expr(ppm("support", n)).alias("confidence_ppm"),
            F.col("lift_ppm"))

    return (pairs
            .select(F.explode(F.array(rule("part1", "part2", "n1"),
                                      rule("part2", "part1", "n2")))
                    .alias("r"))
            .select("r.*"))


ASSOC_RULES_SQL = f"""
WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
            FROM lineitem),
item AS (SELECT pk, COUNT(*) AS n FROM op GROUP BY pk),
frequent AS (SELECT pk, n FROM item WHERE n >= {PAIR_MINSUP}),
fop AS (SELECT op.ok, op.pk FROM op JOIN frequent USING (pk)),
pairs AS (
  SELECT a.pk AS part1, b.pk AS part2, COUNT(*) AS support
  FROM fop a JOIN fop b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY 1, 2
  HAVING COUNT(*) >= {PAIR_MINSUP}
),
tot AS (SELECT COUNT(DISTINCT ok) AS n_baskets FROM op),
enriched AS (
  SELECT part1, part2, CAST(support AS BIGINT) AS support,
         f1.n AS n1, f2.n AS n2,
         CAST(support * n_baskets * 1000000 // (f1.n * f2.n) AS BIGINT)
           AS lift_ppm
  FROM pairs
  JOIN frequent f1 ON f1.pk = part1
  JOIN frequent f2 ON f2.pk = part2
  CROSS JOIN tot
)
SELECT part1 AS antecedent, part2 AS consequent, support,
       CAST(support * 1000000 // n1 AS BIGINT) AS confidence_ppm,
       lift_ppm
FROM enriched
UNION ALL
SELECT part2, part1, support,
       CAST(support * 1000000 // n2 AS BIGINT), lift_ppm
FROM enriched
"""


QUERIES: dict[str, QueryFn] = {
    "brand_price_size_regression": brand_price_size_regression,
    "pareto_frontier_parts": pareto_frontier_parts,
    "orders_peak_concurrency": orders_peak_concurrency,
    "winsorized_price_stats": winsorized_price_stats,
    "holt_forecast_monthly": holt_forecast_monthly,
    "sql_udf_order_tiers": sql_udf_order_tiers,
    "observed_scan_metrics": observed_scan_metrics,
    "bootstrap_mean_ci": bootstrap_mean_ci,
    "frequent_part_pairs": frequent_part_pairs,
    "association_rules_lift": association_rules_lift,
    "orders_seasonality_index": orders_seasonality_index,
    "order_fulfillment_backlog": order_fulfillment_backlog,
    "revenue_percent_of_parent": revenue_percent_of_parent,
    "customer_rfm_segments": customer_rfm_segments,
    "orders_yoy_growth": orders_yoy_growth,
    "order_status_mode": order_status_mode,
    "null_safe_join_counts": null_safe_join_counts,
    "ansi_safe_arithmetic": ansi_safe_arithmetic,
    "region_nation_listagg": region_nation_listagg,
    "collated_type_counts": collated_type_counts,
    "sql_api_parameterized": sql_api_parameterized,
    "sql_api_scripting": sql_api_scripting,
    "sql_api_pipe_syntax": sql_api_pipe_syntax,
    "pandas_api_status_profile": pandas_api_status_profile,
    "sql_registered_pandas_udf": sql_registered_pandas_udf,
    "pandas_udaf_cents": pandas_udaf_cents,
    "orders_status_transpose": orders_status_transpose,
    "recursive_month_spine": recursive_month_spine,
    "lateral_topk_per_nation": lateral_topk_per_nation,
    "sql_api_revenue_rollup": sql_api_revenue_rollup,
    "q15_top_suppliers": q15_top_suppliers,
    "q17_small_quantity_revenue": q17_small_quantity_revenue,
    "q10_returned_revenue_topk": q10_returned_revenue_topk,
    "q14_promo_revenue_pct": q14_promo_revenue_pct,
    "q19_disjunctive_predicate": q19_disjunctive_predicate,
    "order_price_quantiles": order_price_quantiles,
    "order_price_histogram": order_price_histogram,
    "customer_first_last_orders": customer_first_last_orders,
    "q4_late_shipment_orders": q4_late_shipment_orders,
    "q7_nation_trade_volume": q7_nation_trade_volume,
    "q13_order_count_distribution": q13_order_count_distribution,
    "q18_large_volume_orders": q18_large_volume_orders,
    "q22_idle_rich_customers": q22_idle_rich_customers,
    "orders_window_analytics": orders_window_analytics,
    "customer_status_profile": customer_status_profile,
    "part_type_taxonomy": part_type_taxonomy,
}

ORACLES: dict[str, str] = {
    "brand_price_size_regression": BRAND_REGRESSION_SQL,
    "pareto_frontier_parts": PARETO_FRONTIER_SQL,
    "orders_peak_concurrency": PEAK_CONCURRENCY_SQL,
    "winsorized_price_stats": WINSORIZED_SQL,
    "holt_forecast_monthly": HOLT_SQL,
    "sql_udf_order_tiers": SQL_UDF_TIERS_SQL,
    "observed_scan_metrics": OBSERVED_METRICS_SQL,
    "bootstrap_mean_ci": _bootstrap_sql(),
    "frequent_part_pairs": FREQUENT_PAIRS_SQL,
    "association_rules_lift": ASSOC_RULES_SQL,
    "orders_seasonality_index": SEASONALITY_SQL,
    "order_fulfillment_backlog": FULFILLMENT_BACKLOG_SQL,
    "revenue_percent_of_parent": PCT_OF_PARENT_SQL,
    "customer_rfm_segments": RFM_SQL,
    "orders_yoy_growth": ORDERS_YOY_SQL,
    "order_status_mode": ORDER_STATUS_MODE_SQL,
    "null_safe_join_counts": NULL_SAFE_JOIN_SQL,
    "ansi_safe_arithmetic": ANSI_SAFE_SQL,
    "region_nation_listagg": REGION_LISTAGG_SQL,
    "collated_type_counts": COLLATED_TYPE_SQL,
    "sql_api_parameterized": SQL_API_PARAM_SQL,
    "sql_api_scripting": SQL_API_SCRIPTING_SQL,
    "sql_api_pipe_syntax": SQL_API_PIPE_SQL,
    "pandas_api_status_profile": PANDAS_API_SQL,
    "sql_registered_pandas_udf": SQL_REGISTERED_UDF_SQL,
    "pandas_udaf_cents": PANDAS_UDAF_SQL,
    "orders_status_transpose": TRANSPOSE_SQL,
    "lateral_topk_per_nation": LATERAL_TOPK_SQL,
    "sql_api_revenue_rollup": SQL_API_ROLLUP_SQL,
    "q15_top_suppliers": Q15_SQL,
    "q17_small_quantity_revenue": Q17_SQL,
    "q10_returned_revenue_topk": Q10_SQL,
    "q14_promo_revenue_pct": Q14_SQL,
    "q19_disjunctive_predicate": Q19_SQL,
    "order_price_quantiles": ORDER_QUANTILES_SQL,
    "order_price_histogram": ORDER_HISTOGRAM_SQL,
    "customer_first_last_orders": FIRST_LAST_SQL,
    "q4_late_shipment_orders": Q4_SQL,
    "q7_nation_trade_volume": Q7_SQL,
    "q13_order_count_distribution": Q13_SQL,
    "q18_large_volume_orders": Q18_SQL,
    "q22_idle_rich_customers": Q22_SQL,
    "orders_window_analytics": WINDOW_ANALYTICS_SQL,
    "customer_status_profile": STATUS_PROFILE_SQL,
    "part_type_taxonomy": PART_TAXONOMY_SQL,
    "recursive_month_spine": RECURSIVE_SPINE_SQL,
}
