"""Subquery / semi-join / anti-join / outer-join query shapes.

The reference's pipeline API has no subqueries — these are Jet-core SQL
capabilities (SURVEY.md §2.6) that come built-in on Spark. What we add
here is the *decorrelated, scale-safe* formulation of each classic
TPC-H subquery shape: correlated scalar subqueries become groupBy-join
pairs, EXISTS becomes left_semi, NOT EXISTS becomes left_anti, and
scalar global aggregates become broadcast single-row cross joins. Every
formulation keeps the fact table streaming through one shuffle and
broadcasts everything derived-and-small.

Scale notes (100 TB stance):
- left_semi / left_anti against a *filtered, aggregated* right side —
  never materialize EXISTS via count()>0 per row;
- scalar subqueries (global avg / max) produce 1-row DataFrames that
  Spark broadcasts in a BroadcastNestedLoopJoin — O(1) per row, no
  shuffle;
- per-group thresholds (q17/q18 shape) aggregate the fact ONCE on its
  join key, then broadcast the (small) aggregate back against the fact:
  one shuffle on the group key, zero correlated re-scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hazelcast_jet_contrib_spark.registry import query, table


# --------------------------------------------------------------------------
# Q4-shape: EXISTS → left_semi join. Orders in a quarter that had at
# least one returned line. The semi-join keeps orders' columns only —
# no duplicate rows from multi-line matches, no lineitem columns
# shuffled.
# --------------------------------------------------------------------------
@query(
    "q4_priority_with_returns",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
    GROUP BY o_orderpriority
    """,
)
def q4_priority_with_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01 00:00:00").cast("timestamp"))
    )
    returned = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        orders.join(returned, orders.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# --------------------------------------------------------------------------
# Q7-shape: volume shipping between a nation pair — the double-dimension
# join with a symmetric OR predicate. Both nation lookups broadcast; the
# OR pair filter evaluates post-join on broadcast columns, so the only
# shuffles are lineitem⋈orders (orderkey) and the final group-by.
# --------------------------------------------------------------------------
@query(
    "q7_nation_pair_volume",
    oracle="""
    SELECT supp_nation, cust_nation, l_year,
           ROUND(SUM(volume), 2) AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
               l_extendedprice * (1 - l_discount) AS volume
        FROM supplier
        JOIN lineitem ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
           OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_nation_pair_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = table(spark, sf_dir, "nation")
    n1 = nat.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nat.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2") | (
        F.col("supp_nation") == "NATION_2"
    ) & (F.col("cust_nation") == "NATION_1")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .withColumn("l_year", F.year("l_shipdate"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


# --------------------------------------------------------------------------
# Q8-shape: market share — ratio of conditional to total aggregate per
# year over a 7-table join. The CASE-inside-SUM ratio needs no second
# pass: one join tree, one group-by.
# --------------------------------------------------------------------------
@query(
    "q8_market_share",
    oracle="""
    SELECT o_year,
           ROUND(SUM(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
                 / SUM(volume), 4) AS mkt_share
    FROM (
        SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
               l_extendedprice * (1 - l_discount) AS volume,
               n2.n_name AS nation
        FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region   ON n1.n_regionkey = r_regionkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE r_name = 'EUROPE' AND p_type = 'ECONOMY'
    ) all_nations
    GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY").select("p_partkey")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = table(spark, sf_dir, "nation")
    reg = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n1 = nat.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = nat.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        # part filter first: at 100 TB the p_type predicate prunes the
        # fact via the broadcast hash join's runtime filter
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(reg), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .withColumn("o_year", F.year("o_orderdate"))
        .withColumn("volume", volume)
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(F.when(F.col("nation") == "NATION_3", F.col("volume")).otherwise(0.0))
                / F.sum("volume"),
                4,
            ).alias("mkt_share")
        )
    )


# --------------------------------------------------------------------------
# Q13-shape: customer order distribution — LEFT OUTER join with a
# predicate *inside* the join condition (so zero-order customers
# survive), then a distribution over the counts. Two shuffles: custkey,
# then c_count.
# --------------------------------------------------------------------------
@query(
    "q13_customer_order_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer LEFT OUTER JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    """,
)
def q13_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer").select("c_custkey")
    orders = table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    return (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey)
            & (orders.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


# --------------------------------------------------------------------------
# Q15-shape: top supplier — scalar MAX subquery over a derived revenue
# view. The revenue aggregate is computed once; its 1-row MAX broadcasts
# back against it (no second scan of lineitem, no window over a single
# partition).
# --------------------------------------------------------------------------
@query(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "total_revenue"
        )
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.join(
            F.broadcast(max_rev), F.col("total_revenue") == F.col("max_revenue")
        )
        .join(F.broadcast(supp), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


# --------------------------------------------------------------------------
# Q17-shape: small-quantity-order revenue — correlated scalar AVG
# subquery, decorrelated: aggregate lineitem per partkey once, broadcast
# the per-part thresholds back against the brand-filtered fact.
# --------------------------------------------------------------------------
@query(
    "q17_small_quantity_revenue",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#23'
      AND l_quantity < (
          SELECT 0.5 * AVG(l_quantity) FROM lineitem l2
          WHERE l2.l_partkey = p_partkey
      )
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    brand_parts = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#23")
        .select("p_partkey")
    )
    # Decorrelation: per-part avg as a WINDOW over partitionBy(l_partkey)
    # on the (brand-pruned) fact. The old groupBy + broadcast-join-back
    # evaluated the pruned subtree twice (no exchange reuse — different
    # downstream filters) and broadcast a |brand parts|-sized thresholds
    # relation, which does not fit a broadcast at 100 TB. One pass, one
    # exchange. r17 A/B (OPTIMIZATION_r17.md §14, sf0.1, 4 interleaved noop
    # reps): shipped min 0.509 s vs window min 0.430 s; rows identical.
    pruned = li.join(F.broadcast(brand_parts), F.col("l_partkey") == F.col("p_partkey"))
    w = Window.partitionBy("l_partkey")
    return (
        pruned.withColumn("qty_threshold", F.lit(0.5) * F.avg("l_quantity").over(w))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


# --------------------------------------------------------------------------
# Q18-shape: large-volume customers — IN-subquery over a HAVING
# aggregate, decorrelated: aggregate lineitem per orderkey, filter the
# aggregate, semi-join orders against it. The heavy agg happens once on
# the fact's natural key.
# --------------------------------------------------------------------------
@query(
    "q18_large_volume_customers",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
           ROUND(qty, 2) AS total_qty
    FROM (
        SELECT l_orderkey AS big_orderkey, SUM(l_quantity) AS qty
        FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 210
    ) big
    JOIN orders   ON o_orderkey = big_orderkey
    JOIN customer ON c_custkey = o_custkey
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (
        li.groupBy(F.col("l_orderkey").alias("big_orderkey"))
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 210)
    )
    return (
        orders.join(F.broadcast(big), F.col("o_orderkey") == F.col("big_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.round(F.col("qty"), 2).alias("total_qty"),
        )
    )


# --------------------------------------------------------------------------
# Q19-shape: discounted revenue — disjunction of conjunctive
# brand/size/quantity ranges across the join (OR-of-ANDs). The shared
# `p_partkey = l_partkey` equi-condition keeps this a broadcast HASH
# join (not a nested-loop): per-branch predicates evaluate post-probe.
# --------------------------------------------------------------------------
@query(
    "q19_discounted_revenue",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Derived scan-level pre-filters (the classic q19 rewrite): the union of
    # the per-branch ranges is pushed to each scan so most rows never reach
    # the join. Catalyst can't infer these from the OR-of-ANDs on its own
    # because each conjunct mixes columns from both sides.
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_quantity").between(1, 30))
    part = (
        table(spark, sf_dir, "part")
        .select("p_partkey", "p_brand", "p_size")
        .filter(
            F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#34")
            & F.col("p_size").between(1, 35)
        )
    )
    branch = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 25)
        & F.col("l_quantity").between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#34")
        & F.col("p_size").between(1, 35)
        & F.col("l_quantity").between(20, 30)
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .filter(branch)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


# --------------------------------------------------------------------------
# Q22-shape: dormant wealthy customers — scalar AVG subquery (1-row
# broadcast) + NOT EXISTS (left_anti). Customers above the positive-
# balance average with no urgent orders, grouped by a derived country
# code.
# --------------------------------------------------------------------------
@query(
    "q22_dormant_wealthy_customers",
    oracle="""
    SELECT cntrycode, COUNT(*) AS numcust, ROUND(SUM(c_acctbal), 2) AS totacctbal
    FROM (
        SELECT CAST(c_nationkey % 5 AS INT) AS cntrycode, c_acctbal
        FROM customer
        WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer
                           WHERE c_acctbal > 0.0)
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderpriority = '1-URGENT')
    ) custsale
    GROUP BY cntrycode
    """,
)
def q22_dormant_wealthy_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    urgent = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_acctbal")
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_acctbal"))
        .join(urgent, cust.c_custkey == urgent.o_custkey, "left_anti")
        .withColumn("cntrycode", (F.col("c_nationkey") % 5).cast("int"))
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )
