"""TPC-H parity batch: the 15 classic shapes (Q2, Q7-Q13, Q15-Q19, Q21,
Q22) the q/x tiers didn't already cover, adapted shape-preservingly to the
reduced synthetic schema (no partsupp, commitdate, receiptdate, shipmode,
phone or container columns):

- the part-supplier relation is derived from ``lineitem`` (distinct
  ``(l_partkey, l_suppkey)``; unit supply cost ``l_extendedprice /
  l_quantity``);
- "late" is ``l_shipdate > o_orderdate + INTERVAL N DAYS`` (no
  commit/receipt dates);
- Q22's country code is ``right(c_name, 2)`` (no phone column), and its
  anti-join is time-scoped (every synthetic customer has *some* order).

These extend the relational surface beyond the reference (ABSENT in ref —
the pandas reference has no relational queries at all); each carries a full
DuckDB oracle and is named past the driver's 50-slot recording window
(see registry docstring) so it lands in the local gate + pytest.

Scale posture: dimension sides (region, nation, supplier, part, customer
at these cardinalities) broadcast; the only shuffles are fact-side
aggregates and the orders⋈lineitem equi-join on orderkey, exactly the
joins a 1000-executor cluster must shuffle anyway. Money sums round to
2 dp on both sides (established float-determinism convention).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from gov_ec_pipeline_etl_spark.plans.registry import register
from gov_ec_pipeline_etl_spark.plans.util import T, revenue_sum


@register(
    "x39_min_cost_supplier",
    oracle="""
        WITH supply AS (
          SELECT l_partkey, l_suppkey,
                 MIN(l_extendedprice / l_quantity) AS unit_cost
          FROM lineitem GROUP BY l_partkey, l_suppkey
        )
        SELECT ROUND(s_acctbal, 2) AS acctbal, s_name, n_name, p_partkey,
               FLOOR(sup.unit_cost * 10000) / 10000 AS unit_cost
        FROM supply sup
        JOIN part     ON p_partkey = sup.l_partkey
        JOIN supplier ON s_suppkey = sup.l_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE p_type = 'LARGE' AND p_size BETWEEN 10 AND 20
          AND r_name = 'EUROPE'
          AND sup.unit_cost = (
            SELECT MIN(s2.unit_cost) FROM supply s2
            JOIN supplier sp2 ON sp2.s_suppkey = s2.l_suppkey
            JOIN nation n2    ON sp2.s_nationkey = n2.n_nationkey
            JOIN region r2    ON n2.n_regionkey = r2.r_regionkey
            WHERE s2.l_partkey = sup.l_partkey AND r2.r_name = 'EUROPE'
          )
    """,
    doc="TPC-H Q2 shape (min-cost supplier): correlated min over the "
    "derived part-supplier relation, expressed as a window min over the "
    "region-restricted supply — one shuffle for the supply agg, the "
    "per-part min reuses its partitioning; all dims broadcast. Float-safe: "
    "MIN of identical IEEE divisions; the output quantizes via floor of "
    "the scaled double (cents/qty divisions land exactly on .xxxx5 "
    "boundaries where Spark's decimal-string ROUND and DuckDB's binary "
    "ROUND disagree — floor of the identical double cannot).",
    tags=("join", "subquery", "window", "tpch"),
)
def x39_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    supply = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    part = T(spark, sf_dir, "part").where(
        (F.col("p_type") == "LARGE") & F.col("p_size").between(10, 20)
    )
    supp = T(spark, sf_dir, "supplier")
    nation = T(spark, sf_dir, "nation")
    region = T(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    europe_supply = (
        supply.join(F.broadcast(supp), supply.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    w = Window.partitionBy("l_partkey")
    return (
        europe_supply.withColumn("min_cost", F.min("unit_cost").over(w))
        .where(F.col("unit_cost") == F.col("min_cost"))
        .join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
        .select(
            F.round("s_acctbal", 2).alias("acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            (F.floor(F.col("unit_cost") * 10000) / 10000).alias("unit_cost"),
        )
    )


@register(
    "x40_volume_shipping",
    oracle="""
        SELECT supp_nation, cust_nation, l_year,
               ROUND(SUM(volume), 2) AS revenue
        FROM (
          SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS l_year,
                 l_extendedprice * (1 - l_discount) AS volume
          FROM supplier
          JOIN lineitem ON s_suppkey = l_suppkey
          JOIN orders   ON o_orderkey = l_orderkey
          JOIN customer ON c_custkey = o_custkey
          JOIN nation n1 ON s_nationkey = n1.n_nationkey
          JOIN nation n2 ON c_nationkey = n2.n_nationkey
          WHERE ((n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_20')
              OR (n1.n_name = 'NATION_20' AND n2.n_name = 'NATION_19'))
            AND l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate <  TIMESTAMP '1998-01-01'
        ) shipping
        GROUP BY supp_nation, cust_nation, l_year
    """,
    doc="TPC-H Q7 shape (volume shipping between two nations): nation "
    "read twice under different roles, symmetric pair predicate. One "
    "shuffle (orders⋈lineitem); supplier/customer/nation broadcast.",
    tags=("join", "agg", "tpch"),
)
def x40_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer")
    supp = T(spark, sf_dir, "supplier")
    n1 = T(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = T(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("n2_key"))
        .where(
            ((F.col("supp_nation") == "NATION_19") & (F.col("cust_nation") == "NATION_20"))
            | ((F.col("supp_nation") == "NATION_20") & (F.col("cust_nation") == "NATION_19"))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@register(
    "x41_market_share",
    oracle="""
        SELECT o_year,
               ROUND(SUM(CASE WHEN nation = 'NATION_7' THEN volume ELSE 0 END)
                     / SUM(volume), 6) AS mkt_share
        FROM (
          SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
                 l_extendedprice * (1 - l_discount) AS volume,
                 n1.n_name AS nation
          FROM part
          JOIN lineitem  ON p_partkey = l_partkey
          JOIN supplier  ON s_suppkey = l_suppkey
          JOIN orders    ON l_orderkey = o_orderkey
          JOIN customer  ON o_custkey = c_custkey
          JOIN nation n2 ON c_nationkey = n2.n_nationkey
          JOIN region    ON n2.n_regionkey = r_regionkey
          JOIN nation n1 ON s_nationkey = n1.n_nationkey
          WHERE r_name = 'ASIA' AND p_type = 'PROMO'
            AND o_orderdate >= TIMESTAMP '1995-01-01'
            AND o_orderdate <  TIMESTAMP '1997-01-01'
        ) all_nations
        GROUP BY o_year
    """,
    doc="TPC-H Q8 shape (national market share): conditional-sum ratio "
    "per year; 8-way join with one fact-fact shuffle, everything else "
    "broadcast. Share rounded to 6 dp on both sides.",
    tags=("join", "agg", "tpch"),
)
def x41_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = T(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    li = T(spark, sf_dir, "lineitem")
    supp = T(spark, sf_dir, "supplier")
    orders = T(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    cust = T(spark, sf_dir, "customer")
    n1 = T(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("nation")
    )
    n2 = T(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_rkey")
    )
    region = T(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n2), cust.c_nationkey == F.col("n2_key"))
        .join(F.broadcast(region), F.col("n2_rkey") == region.r_regionkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("n1_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("nation") == "NATION_7", volume).otherwise(0.0))
                / F.sum(volume),
                6,
            ).alias("mkt_share")
        )
    )


@register(
    "x42_product_profit",
    oracle="""
        SELECT nation, o_year,
               CAST(ROUND(SUM(amount), 2) AS DOUBLE) AS sum_profit
        FROM (
          SELECT n_name AS nation,
                 CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
                 CAST(l_extendedprice * (1 - l_discount)
                   - p_retailprice * 0.1 * l_quantity AS DECIMAL(18, 4)) AS amount
          FROM part
          JOIN lineitem ON p_partkey = l_partkey
          JOIN supplier ON s_suppkey = l_suppkey
          JOIN orders   ON o_orderkey = l_orderkey
          JOIN nation   ON s_nationkey = n_nationkey
          WHERE p_name LIKE '%widget%'
        ) profit
        GROUP BY nation, o_year
    """,
    doc="TPC-H Q9 shape (product-type profit): supply cost adapted to "
    "10% of retail price per unit (no partsupp). LIKE-filtered part "
    "broadcast; one orders⋈lineitem shuffle; agg keyed (nation, year). "
    "The profit subtraction amplifies float ulp across sum orders, so "
    "the per-row amount is cast to DECIMAL(18,4) on both sides — the "
    "sum is then exact and order-independent (cent-boundary safe).",
    tags=("join", "agg", "tpch"),
)
def x42_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = T(spark, sf_dir, "part").where(F.col("p_name").contains("widget"))
    li = T(spark, sf_dir, "lineitem")
    supp = T(spark, sf_dir, "supplier")
    orders = T(spark, sf_dir, "orders")
    nation = T(spark, sf_dir, "nation")
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * 0.1 * F.col("l_quantity")
    ).cast("decimal(18,4)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg(F.round(F.sum(amount), 2).cast("double").alias("sum_profit"))
    )


@register(
    "x43_returned_items",
    bench=True,
    oracle="""
        SELECT c_custkey, c_name,
               CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(18, 4))), 2) AS DOUBLE) AS revenue,
               ROUND(c_acctbal, 2) AS acctbal, n_name
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-10-01'
          AND o_orderdate <  TIMESTAMP '1997-01-01'
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
    doc="TPC-H Q10 shape (returned-item reporting): quarter-scoped "
    "fact-fact shuffle join, customer/nation broadcast, deterministic "
    "top-20 (rounded revenue DESC, custkey tie-break — q03 convention).",
    tags=("join", "agg", "topk", "tpch"),
)
def x43_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = T(spark, sf_dir, "customer")
    orders = T(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = T(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    nation = T(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(revenue_sum().alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round("c_acctbal", 2).alias("acctbal"),
            "n_name",
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@register(
    "x44_important_parts",
    oracle="""
        WITH pv AS (
          SELECT l_partkey, SUM(l_extendedprice) AS val
          FROM lineitem
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation   ON s_nationkey = n_nationkey
          WHERE n_name = 'NATION_3'
          GROUP BY l_partkey
        )
        SELECT l_partkey, ROUND(val, 2) AS part_value
        FROM pv
        WHERE val > (SELECT SUM(val) * 0.001 FROM pv)
    """,
    doc="TPC-H Q11 shape (important stock): part value from lineitem "
    "revenue of one nation's suppliers (no partsupp); global-threshold "
    "scalar subquery becomes a broadcast 1-row cross join — the agg "
    "shuffles once, the threshold never moves data.",
    tags=("agg", "subquery", "tpch"),
)
def x44_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    supp = T(spark, sf_dir, "supplier")
    nation = T(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_3")
    pv = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("l_partkey")
        .agg(F.sum("l_extendedprice").alias("val"))
    )
    threshold = pv.agg((F.sum("val") * 0.001).alias("threshold"))
    return (
        pv.crossJoin(F.broadcast(threshold))
        .where(F.col("val") > F.col("threshold"))
        .select("l_partkey", F.round("val", 2).alias("part_value"))
    )


@register(
    "x45_priority_split",
    oracle="""
        SELECT l_linestatus,
          CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
          CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM orders
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
          AND l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
        GROUP BY l_linestatus
    """,
    doc="TPC-H Q12 shape (shipping-priority split): 'late' adapted to "
    "shipdate > orderdate + 90d (no commit/receipt dates); conditional "
    "counts; the year filter pushes to the lineitem scan before the "
    "single shuffle join.",
    tags=("join", "agg", "tpch"),
)
def x45_priority_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .where(F.col("l_shipdate") > F.expr("o_orderdate + INTERVAL 90 DAYS"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
    )


@register(
    "x46_order_count_histogram",
    oracle="""
        SELECT c_count, COUNT(*) AS custdist
        FROM (
          SELECT c_custkey, COUNT(o_orderkey) AS c_count
          FROM customer
          LEFT OUTER JOIN orders
            ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
          GROUP BY c_custkey
        ) c_orders
        GROUP BY c_count
    """,
    doc="TPC-H Q13 shape (customer order-count distribution): left outer "
    "join with a predicate inside the join condition (kept rows still "
    "count 0), double aggregation. Customer side is the small side but "
    "must be preserved — Spark keeps it as the left of a broadcast-able "
    "outer join.",
    tags=("join", "agg", "outer", "tpch"),
)
def x46_order_count_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = T(spark, sf_dir, "customer")
    orders = T(spark, sf_dir, "orders")
    per_cust = (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey)
            & (orders.o_orderpriority != "4-NOT SPECIFIED"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register(
    "x47_top_supplier",
    oracle="""
        WITH revenue AS (
          SELECT l_suppkey AS supplier_no,
                 SUM(l_extendedprice * (1 - l_discount)) AS total_revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate <  TIMESTAMP '1996-04-01'
          GROUP BY l_suppkey
        ),
        ranked AS (
          SELECT supplier_no, total_revenue,
                 RANK() OVER (ORDER BY total_revenue DESC) AS rnk
          FROM revenue
        )
        SELECT s_suppkey, s_name, ROUND(total_revenue, 2) AS total_revenue
        FROM supplier
        JOIN ranked ON s_suppkey = supplier_no
        WHERE rnk = 1
    """,
    doc="TPC-H Q15 shape (top supplier), spelled as RANK over ONE "
    "materialization of the quarter-revenue aggregate rather than "
    "Q15's textbook `total_revenue = (SELECT MAX(...))`. The textbook "
    "form compares a parallel double SUM against a RECOMPUTATION of "
    "the same sum: summation order differs between evaluations, the "
    "two values differ in the last ulp, and the equality returns zero "
    "rows — a real failure the round-5 sf1 scale gate caught in DuckDB "
    "(and Spark is equally exposed through shuffle-order "
    "nondeterminism). Ranking orders values from a single evaluation, "
    "so no cross-evaluation float equality exists; ties at the true "
    "max still all surface, matching Q15 semantics. The ranked window "
    "input is the supplier-grain aggregate (dimension-scale rows), so "
    "the unpartitioned window is not a scale hazard.",
    tags=("agg", "window", "tpch", "float-safe"),
)
def x47_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = T(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "total_revenue"
        )
    )
    ranked = revenue.withColumn(
        "rnk", F.rank().over(Window.orderBy(F.col("total_revenue").desc()))
    ).where(F.col("rnk") == 1)
    supp = T(spark, sf_dir, "supplier")
    return ranked.join(
        F.broadcast(supp), F.col("supplier_no") == supp.s_suppkey
    ).select(
        "s_suppkey", "s_name", F.round("total_revenue", 2).alias("total_revenue")
    )


@register(
    "x48_supplier_variety",
    oracle="""
        SELECT p_brand, p_type, p_size,
               COUNT(DISTINCT l_suppkey) AS supplier_cnt
        FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        JOIN part ON p_partkey = l_partkey
        WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
          AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
          AND l_suppkey NOT IN
              (SELECT s_suppkey FROM supplier WHERE s_acctbal < -500)
        GROUP BY p_brand, p_type, p_size
    """,
    doc="TPC-H Q16 shape (parts/supplier variety): distinct part-supplier "
    "pairs from lineitem, NOT IN on a filtered supplier set (suppkey "
    "non-null, so NOT IN ≡ broadcast anti join), count-distinct per "
    "(brand, type, size).",
    tags=("join", "agg", "anti", "tpch"),
)
def x48_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = T(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    part = T(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
    )
    bad_supp = T(spark, sf_dir, "supplier").where(F.col("s_acctbal") < -500).select(
        "s_suppkey"
    )
    return (
        ps.join(F.broadcast(bad_supp), ps.l_suppkey == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(part), ps.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "x49_small_qty_revenue",
    oracle="""
        SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#3'
          AND l_quantity < (
            SELECT 0.2 * AVG(l_quantity) FROM lineitem l2
            WHERE l2.l_partkey = p_partkey
          )
    """,
    doc="TPC-H Q17 shape (small-quantity revenue): per-part avg-quantity "
    "correlated subquery decorrelated into one agg + join (per-part "
    "threshold broadcast). Float-safe: quantities are whole numbers, so "
    "per-part sums are exact regardless of order.",
    tags=("join", "agg", "subquery", "tpch"),
)
def x49_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    part = T(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#3")
    per_part = li.groupBy(F.col("l_partkey").alias("avg_pk")).agg(
        (F.avg("l_quantity") * 0.2).alias("qty_threshold")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(per_part), li.l_partkey == F.col("avg_pk"))
        .where(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@register(
    "x50_big_orders",
    oracle="""
        WITH big AS (
          SELECT l_orderkey, CAST(SUM(l_quantity) AS BIGINT) AS total_qty
          FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 250
        )
        SELECT c_name, c_custkey, o_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_d,
               ROUND(o_totalprice, 2) AS o_totalprice, total_qty
        FROM big
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
    """,
    doc="TPC-H Q18 shape (large-volume customers): group-HAVING subquery "
    "on the fact feeds an orderkey equi-join — the HAVING collapses the "
    "fact before anything joins, so only qualifying orders shuffle. Qty "
    "sums are whole-number-exact → BIGINT cast is deterministic.",
    tags=("join", "agg", "subquery", "tpch"),
)
def x50_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty_sum"))
        .where(F.col("qty_sum") > 250)
        .select("l_orderkey", F.col("qty_sum").cast("bigint").alias("total_qty"))
    )
    orders = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer")
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate_d"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "total_qty",
        )
    )


@register(
    "x51_disjunctive_revenue",
    oracle="""
        SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 20 AND 30)
    """,
    doc="TPC-H Q19 shape (disjunctive discounted revenue): three OR'd "
    "brand/size/quantity predicate groups across the join — Catalyst "
    "pushes the derivable per-side disjunction (quantity range union) "
    "into the lineitem scan; part broadcasts.",
    tags=("join", "agg", "tpch"),
)
def x51_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    part = T(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return joined.where(cond).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        )
    )


@register(
    "x52_waiting_suppliers",
    oracle="""
        SELECT s_name, COUNT(*) AS numwait
        FROM supplier
        JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        JOIN orders      ON o_orderkey = l1.l_orderkey
        JOIN nation      ON s_nationkey = n_nationkey
        WHERE o_orderstatus = 'F' AND n_name = 'NATION_3'
          AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
          AND EXISTS (
            SELECT 1 FROM lineitem l2
            WHERE l2.l_orderkey = l1.l_orderkey
              AND l2.l_suppkey <> l1.l_suppkey
          )
          AND NOT EXISTS (
            SELECT 1 FROM lineitem l3
            WHERE l3.l_orderkey = l1.l_orderkey
              AND l3.l_suppkey <> l1.l_suppkey
              AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY
          )
        GROUP BY s_name
    """,
    doc="TPC-H Q21 shape (suppliers who kept orders waiting): 'late' "
    "adapted to shipdate > orderdate + 60d. EXISTS → left-semi, NOT "
    "EXISTS → left-anti, both equi-keyed on orderkey with a suppkey "
    "inequality residual — no cartesian anywhere; the anti side reuses "
    "the already-computed late set.",
    tags=("join", "semi", "anti", "agg", "tpch"),
)
def x52_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    orders_f = T(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    nation = T(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_3")
    supp7 = T(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    )
    late = (
        li.join(orders_f, li.l_orderkey == orders_f.o_orderkey)
        .where(F.col("l_shipdate") > F.expr("o_orderdate + INTERVAL 60 DAYS"))
        .select("l_orderkey", "l_suppkey")
    )
    l1 = late.join(F.broadcast(supp7), late.l_suppkey == F.col("s_suppkey")).select(
        "l_orderkey", "l_suppkey", "s_name"
    )
    others = li.select(
        F.col("l_orderkey").alias("ok2"), F.col("l_suppkey").alias("sk2")
    )
    l1 = l1.join(
        others,
        (F.col("l_orderkey") == F.col("ok2")) & (F.col("l_suppkey") != F.col("sk2")),
        "left_semi",
    )
    late_others = late.select(
        F.col("l_orderkey").alias("ok3"), F.col("l_suppkey").alias("sk3")
    )
    l1 = l1.join(
        late_others,
        (F.col("l_orderkey") == F.col("ok3")) & (F.col("l_suppkey") != F.col("sk3")),
        "left_anti",
    )
    return l1.groupBy("s_name").agg(F.count(F.lit(1)).alias("numwait"))


@register(
    "x53_idle_customers",
    oracle="""
        WITH cset AS (
          SELECT RIGHT(c_name, 2) AS cntrycode, c_acctbal, c_custkey
          FROM customer
          WHERE RIGHT(c_name, 2) IN ('01','13','17','29','30','31')
        )
        SELECT cntrycode, COUNT(*) AS numcust,
               ROUND(SUM(c_acctbal), 2) AS totacctbal
        FROM cset c
        WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM cset WHERE c_acctbal > 0.0)
          AND NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderdate >= TIMESTAMP '2000-06-01'
          )
        GROUP BY cntrycode
    """,
    doc="TPC-H Q22 shape (global sales opportunity): country code adapted "
    "to right(c_name, 2) (no phone column) and the no-orders anti-join "
    "time-scoped to 'no orders since 2000-06' (every synthetic customer "
    "has some order). Scalar avg broadcast; anti join on custkey.",
    tags=("anti", "subquery", "agg", "tpch"),
)
def x53_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    codes = ["01", "13", "17", "29", "30", "31"]
    cset = (
        T(spark, sf_dir, "customer")
        .withColumn("cntrycode", F.expr("right(c_name, 2)"))
        .where(F.col("cntrycode").isin(codes))
    )
    avg_bal = cset.where(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    recent = (
        T(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("2000-06-01").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        cset.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )
