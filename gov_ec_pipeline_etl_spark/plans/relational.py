"""Core relational surface: scans, filters, aggregations, joins, set ops.

The reference pipeline has no joins / aggregation surface of its own
(SURVEY.md §2.11-2.12 "ABSENT in reference" — Spark SQL supplies it
natively); these queries declare that full surface over the driver's
TPC-H-ish tables so it is correctness-gated against DuckDB.

Scale notes (100 TB posture):
- Dimension tables (region/nation/customer/supplier/part at TPC-H ratios)
  are broadcast — no shuffle of the fact side for those joins.
- Fact-fact joins (orders ⋈ lineitem) shuffle on the join key; AQE
  handles skew/partition sizing at runtime.
- All money sums are rounded on BOTH engine and oracle sides: double
  summation order differs across engines/partitionings, so bit-exact
  equality is not a meaningful contract — 2-decimal (money) / 6-decimal
  (ratios) equality is.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from gov_ec_pipeline_etl_spark.plans.registry import register
from gov_ec_pipeline_etl_spark.plans.util import T, revenue_sum


@register(
    "q01_pricing_summary",
    oracle="""
        SELECT
          l_returnflag,
          l_linestatus,
          ROUND(SUM(l_quantity), 2)                                   AS sum_qty,
          ROUND(SUM(l_extendedprice), 2)                              AS sum_base_price,
          ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)           AS sum_disc_price,
          ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
          ROUND(AVG(l_quantity), 6)                                   AS avg_qty,
          ROUND(AVG(l_extendedprice), 6)                              AS avg_price,
          ROUND(AVG(l_discount), 6)                                   AS avg_disc,
          COUNT(*)                                                    AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2001-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 shape: full-scan filter + hash aggregate (map-side partial).",
    bench=True,
    tags=("agg", "filter"),
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q03_shipping_priority",
    oracle="""
        SELECT
          l_orderkey,
          CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                              AS DECIMAL(18, 4))), 2) AS DOUBLE) AS revenue,
          strftime(o_orderdate, '%Y-%m-%d')                  AS o_orderdate_d
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1997-06-01'
          AND l_shipdate  > TIMESTAMP '1997-06-01'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """,
    doc="TPC-H Q3 shape: dim-filtered broadcast join into fact-fact shuffle "
    "join, grouped top-k. Customer side broadcasts; orders⋈lineitem "
    "shuffles on orderkey.",
    bench=True,
    tags=("join", "agg", "topk"),
)
def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1997-06-01").cast("timestamp")
    cust = T(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = T(spark, sf_dir, "orders").where(F.col("o_orderdate") < cutoff)
    li = T(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > cutoff)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(revenue_sum().alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate_d"),
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "q04_order_priority",
    oracle="""
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1997-01-01'
          AND EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey
              AND l_shipdate > o_orderdate + INTERVAL 60 DAY
          )
        GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4 shape: EXISTS → left-semi join with a non-equi residual "
    "condition, then aggregate.",
    bench=True,
    tags=("semi-join", "agg"),
)
def q04_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = T(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = T(spark, sf_dir, "lineitem")
    late = (li.l_orderkey == orders.o_orderkey) & (
        li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        orders.join(li, on=late, how="left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "q05_region_revenue",
    oracle="""
        SELECT n_name,
               CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(18, 4))), 2) AS DOUBLE) AS revenue
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
    """,
    doc="TPC-H Q5 shape: 6-way join; region/nation/supplier/customer all "
    "broadcast, single shuffle join orders⋈lineitem.",
    bench=True,
    tags=("join", "agg"),
)
def q05_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = T(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = T(spark, sf_dir, "nation")
    cust = T(spark, sf_dir, "customer")
    supp = T(spark, sf_dir, "supplier")
    orders = T(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = T(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(revenue_sum().alias("revenue"))
    )


@register(
    "q06_forecast_revenue",
    oracle="""
        SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.03 AND 0.07
          AND l_quantity < 24
    """,
    doc="TPC-H Q6 shape: pure pushed-down filter + global agg. All four "
    "predicates reach the parquet scan (PushedFilters).",
    bench=True,
    tags=("filter", "agg", "pushdown"),
)
def q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.03, 0.07))
            & (F.col("l_quantity") < 24)
        ).agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            )
        )
    )


@register(
    "x07_semi_join",
    oracle="""
        SELECT c_custkey, c_name
        FROM customer
        WHERE EXISTS (
          SELECT 1 FROM orders
          WHERE o_custkey = c_custkey
            AND o_orderdate >= TIMESTAMP '1996-01-01'
            AND o_orderdate <  TIMESTAMP '1997-01-01'
        )
    """,
    doc="Left-semi join (EXISTS). Customer side small → orders aggregated "
    "to it; at scale the semi join shuffles on custkey.",
    tags=("semi-join",),
)
def x07_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = T(spark, sf_dir, "customer")
    orders = T(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@register(
    "x08_anti_join",
    oracle="""
        SELECT c_custkey, c_name
        FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    doc="Left-anti join (NOT EXISTS) — the shape of the reference's "
    '"new resource" change-detection diff (SURVEY.md §2.2 I2, '
    "etl/extract.py:159-183) generalized to data scale.",
    tags=("anti-join",),
)
def x08_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = T(spark, sf_dir, "customer")
    orders = T(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "x09_rollup",
    oracle="""
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS total_price
        FROM orders
        GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    doc="ROLLUP hierarchy aggregate (ABSENT in reference; native Spark).",
    tags=("agg", "rollup"),
)
def x09_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = T(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


@register(
    "x10_cube",
    oracle="""
        SELECT c_mktsegment, n_name, COUNT(*) AS n_customers,
               ROUND(SUM(c_acctbal), 2) AS total_acctbal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY CUBE (c_mktsegment, n_name)
    """,
    doc="CUBE aggregate over a broadcast dim join.",
    tags=("agg", "cube", "join"),
)
def x10_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = T(spark, sf_dir, "customer")
    nation = T(spark, sf_dir, "nation")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .cube("c_mktsegment", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
    )


@register(
    "x11_grouping_sets",
    oracle="""
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    doc="GROUPING SETS via the engine's SQL surface (spark.sql).",
    tags=("agg", "grouping-sets", "sql"),
)
def x11_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    T(spark, sf_dir, "lineitem").createOrReplaceTempView("_gs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n
        FROM _gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@register(
    "x12_set_ops",
    oracle="""
        SELECT o_custkey AS custkey FROM orders
        INTERSECT
        SELECT c_custkey FROM customer WHERE c_acctbal > 0
    """,
    doc="INTERSECT set op (distinct semantics).",
    tags=("set-op",),
)
def x12_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = T(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
    cust = (
        T(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 0)
        .select(F.col("c_custkey").alias("custkey"))
    )
    return orders.intersect(cust)


@register(
    "x13_except",
    oracle="""
        SELECT c_custkey AS custkey FROM customer
        EXCEPT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    doc="EXCEPT set op (distinct semantics).",
    tags=("set-op",),
)
def x13_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = T(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"))
    fin = (
        T(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("custkey"))
    )
    # subtract = EXCEPT-distinct; exceptAll(...).distinct() differs when
    # the left side holds duplicates (one occurrence of a removed key
    # would survive the multiset subtraction and then pass distinct)
    return cust.subtract(fin)


@register(
    "q14_range_join",
    oracle="""
        SELECT o_orderpriority,
               COUNT(*) AS n_lines,
               CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(18, 4))), 2) AS DOUBLE) AS revenue
        FROM orders JOIN lineitem
          ON l_orderkey = o_orderkey
         AND l_shipdate >= o_orderdate
         AND l_shipdate <  o_orderdate + INTERVAL 90 DAY
        GROUP BY o_orderpriority
    """,
    doc="Equi + range join: the equi key keeps it a hash join; the range "
    "predicate evaluates as a post-join residual (no nested-loop blowup).",
    bench=True,
    tags=("range-join", "agg"),
)
def q14_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem")
    cond = (
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate >= orders.o_orderdate)
        & (li.l_shipdate < orders.o_orderdate + F.expr("INTERVAL 90 DAYS"))
    )
    return (
        li.join(orders, cond)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            revenue_sum().alias("revenue"),
        )
    )


@register(
    "x15_brand_revenue",
    oracle="""
        SELECT p_brand,
               COUNT(*) AS n_lines,
               CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(18, 4))), 2) AS DOUBLE) AS revenue,
               COUNT(DISTINCT l_suppkey) AS n_suppliers
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand
    """,
    doc="Fact ⋈ broadcast dim + COUNT DISTINCT (expands to two-phase "
    "distinct aggregate). Per-row revenue cast to DECIMAL(18,4) on both "
    "sides before SUM — order-independent exact sums (the double-sum "
    "ulp landed on a cent boundary at sf1: x42's discipline).",
    tags=("join", "agg", "distinct"),
)
def x15_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    part = T(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            revenue_sum().alias("revenue"),
            F.countDistinct("l_suppkey").alias("n_suppliers"),
        )
    )
