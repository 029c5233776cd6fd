"""Remaining classic decorrelated-subquery query shapes (q2/q9/q11/q12/q16/q20/q21).

Completes the TPC-H-shape coverage started in ``queries_subqueries``.
The reference repo has no subqueries (SURVEY.md §2.6 — joins/sorts/
set-ops live in Jet core, not hazelcast-jet-contrib); these exist to
prove the engine's relational surface handles every classic correlation
pattern with a scale-safe, decorrelated Spark plan:

- correlated MIN-per-group (q2)  → aggregate once on the group key,
  broadcast the per-group minimum back against the detail;
- HAVING-vs-global-scalar (q11)  → 1-row aggregate broadcast, never a
  window over a single global partition;
- double EXISTS / NOT EXISTS over the same fact (q21) → per-order
  aggregates joined back — the fact is scanned twice but shuffled on
  its natural key both times, no per-row re-scan;
- NOT IN (q16) → left_anti against the (tiny, filtered) exclusion set.

The driver's synthetic schema drops partsupp / l_shipmode /
l_commitdate / l_receiptdate, so each query keeps the classic *shape*
on the columns that exist (noted per query).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hazelcast_jet_contrib_spark.registry import query, table


# --------------------------------------------------------------------------
# Q2-shape: minimum-cost supplier — correlated MIN subquery across a
# region-scoped join. partsupp is absent, so lineitem plays the
# part↔supplier price relation with unit price l_extendedprice /
# l_quantity. Decorrelation: per-part regional minimum computed once,
# broadcast back; every dimension (part slice, supplier, nation,
# region) broadcasts, so the fact shuffles only for the per-part agg.
# --------------------------------------------------------------------------
@query(
    "q2_min_cost_supplier",
    oracle="""
    WITH offers AS (
        SELECT p_partkey, s_suppkey, s_name, s_acctbal, n_name,
               l_extendedprice / l_quantity AS unit_price
        FROM lineitem
        JOIN part     ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE p_size = 15 AND p_type = 'STANDARD'
          AND r_name = 'EUROPE' AND l_quantity > 0
    )
    SELECT p_partkey, s_suppkey, s_name, n_name,
           s_acctbal AS acctbal,
           unit_price AS min_unit_price
    FROM offers o
    WHERE unit_price = (SELECT MIN(unit_price) FROM offers m
                        WHERE m.p_partkey = o.p_partkey)
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    part = (
        table(spark, sf_dir, "part")
        .filter((F.col("p_size") == 15) & (F.col("p_type") == "STANDARD"))
        .select("p_partkey")
    )
    supp = table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal", "s_nationkey"
    )
    nat = table(spark, sf_dir, "nation")
    reg = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    offers = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .withColumn("unit_price", F.col("l_extendedprice") / F.col("l_quantity"))
        .select("p_partkey", "s_suppkey", "s_name", "s_acctbal", "n_name", "unit_price")
    )
    # per-part minimum as a WINDOW over partitionBy(p_partkey): the old
    # groupBy + broadcast-join-back referenced the offers subtree twice
    # (fact scan + 4 broadcast joins, both evaluated — the canonical
    # plans differ so no exchange reuse). One pass, one exchange. r17
    # A/B (OPTIMIZATION_r17.md §14, sf0.1, 4 interleaved noop reps): shipped
    # min 0.431 s vs window min 0.239 s; rows identical.
    w = Window.partitionBy("p_partkey")
    return (
        offers.withColumn("m_min", F.min("unit_price").over(w))
        .filter(F.col("unit_price") == F.col("m_min"))
        .select(
            "p_partkey",
            "s_suppkey",
            "s_name",
            "n_name",
            # raw doubles, no ROUND: both engines compute the identical
            # IEEE division/min, so the values are bit-identical, while
            # ROUND at a half-way digit can disagree across engines
            F.col("s_acctbal").alias("acctbal"),
            F.col("unit_price").alias("min_unit_price"),
        )
    )


# --------------------------------------------------------------------------
# Q9-shape: product-type profit by nation and year — LIKE-filtered part
# slice pruning a wide fact join, derived profit expression, two-key
# rollup. No partsupp, so supply cost is modeled from p_retailprice.
# --------------------------------------------------------------------------
@query(
    "q9_product_type_profit",
    oracle="""
    SELECT nation, o_year, CAST(ROUND(SUM(amount), 0) AS BIGINT) AS sum_profit
    FROM (
        SELECT n_name AS nation,
               CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
               l_extendedprice * (1 - l_discount)
                 - 0.7 * p_retailprice * l_quantity AS amount
        FROM lineitem
        JOIN part     ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%bolt%'
    ) profit
    GROUP BY nation, o_year
    """,
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    part = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%bolt%"))
        .select("p_partkey", "p_retailprice")
    )
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    nat = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(0.7) * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        # broadcast part slice first: its runtime filter prunes the fact
        # before the only real shuffle (orderkey join)
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        # whole-unit rounding: the profit expression subtracts two
        # same-magnitude products, so the sum's last ulps depend on
        # accumulation order; a 2-decimal ROUND can land on a half-way
        # digit and flip between engines, a whole-unit cast cannot
        .agg(F.round(F.sum("amount"), 0).cast("bigint").alias("sum_profit"))
    )


# --------------------------------------------------------------------------
# Q11-shape: important parts — per-group value vs a fraction of the
# global total (HAVING against a scalar subquery). The global total is
# re-derived from the per-part aggregate (no second fact scan), and the
# 1-row scalar broadcasts in a nested-loop join — O(1) per group row.
# Value relation = lines sold by suppliers of one nation (partsupp is
# absent).
# --------------------------------------------------------------------------
@query(
    "q11_important_parts",
    oracle="""
    WITH partvalue AS (
        SELECT l_partkey, SUM(l_extendedprice) AS value
        FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_7'
        GROUP BY l_partkey
    )
    SELECT l_partkey AS partkey, ROUND(value, 2) AS part_value
    FROM partvalue
    WHERE value > (SELECT 0.001 * SUM(value) FROM partvalue)
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = (
        table(spark, sf_dir, "nation")
        .filter(F.col("n_name") == "NATION_7")
        .select("n_nationkey")
    )
    partvalue = (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("l_partkey")
        .agg(F.sum("l_extendedprice").alias("value"))
    )
    threshold = partvalue.agg((F.lit(0.001) * F.sum("value")).alias("threshold"))
    return (
        partvalue.join(F.broadcast(threshold))
        .filter(F.col("value") > F.col("threshold"))
        .select(
            F.col("l_partkey").alias("partkey"),
            F.round("value", 2).alias("part_value"),
        )
    )


# --------------------------------------------------------------------------
# Q12-shape: shipping-delay priority classes — conditional counts
# (CASE-in-SUM) over a late-shipment predicate. l_shipmode/receiptdate
# are absent: "late" = shipped >90 days after order date, classes keyed
# by l_linestatus.
# --------------------------------------------------------------------------
@query(
    "q12_late_shipment_priority",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
    GROUP BY l_linestatus
    """,
)
def q12_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linestatus", "l_shipdate"
    )
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# --------------------------------------------------------------------------
# Q16-shape: supplier diversity per part class — COUNT(DISTINCT) with a
# NOT IN exclusion subquery. NOT IN → left_anti against the (tiny)
# exclusion set, evaluated BEFORE the distinct-count shuffle so excluded
# suppliers never enter the aggregate.
# --------------------------------------------------------------------------
@query(
    "q16_supplier_part_classes",
    oracle="""
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#9' AND p_size IN (1, 9, 19, 29, 49)
      AND l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_supplier_part_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = (
        table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#9")
            & F.col("p_size").isin(1, 9, 19, 29, 49)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    excluded = (
        table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(excluded, li.l_suppkey == excluded.s_suppkey, "left_anti")
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


# --------------------------------------------------------------------------
# Q20-shape: concentrated suppliers — nested subqueries (IN inside IN
# with a correlated aggregate threshold). Decorrelated: the per-
# (supplier, part) 1996-vs-total quantity ratio is one grouped
# aggregate over the name-filtered fact; suppliers semi-join against
# the qualifying pairs.
# --------------------------------------------------------------------------
@query(
    "q20_concentrated_suppliers",
    oracle="""
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_name LIKE '%red%'
        GROUP BY l_suppkey, l_partkey
        HAVING SUM(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                         AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
                        THEN l_quantity ELSE 0 END) > 0.3 * SUM(l_quantity)
    )
    """,
)
def q20_concentrated_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    red_parts = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey")
    )
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    in_1996 = (
        F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp")
    ) & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    pairs = (
        li.join(F.broadcast(red_parts), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(F.when(in_1996, F.col("l_quantity")).otherwise(0.0)).alias("q96"),
            F.sum("l_quantity").alias("qall"),
        )
        .filter(F.col("q96") > F.lit(0.3) * F.col("qall"))
        .select("l_suppkey")
    )
    return supp.join(pairs, supp.s_suppkey == pairs.l_suppkey, "left_semi")


# --------------------------------------------------------------------------
# Q21-shape: suppliers who kept orders waiting — the double
# EXISTS/NOT-EXISTS self-reference on the fact. Decorrelated into two
# per-order aggregates (distinct suppliers on the order; distinct LATE
# suppliers on the order) joined back to the late detail: the classic
# "exists another supplier, not exists another late supplier" becomes
# nsupp > 1 AND nlate = 1. l_commitdate/receiptdate are absent: late =
# shipped >60 days after order date on finished ('F') orders.
# --------------------------------------------------------------------------
@query(
    "q21_waiting_suppliers",
    oracle="""
    WITH flines AS (
        SELECT l_orderkey, l_suppkey,
               CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                    THEN 1 ELSE 0 END AS is_late
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        WHERE o_orderstatus = 'F'
    ),
    ostats AS (
        SELECT l_orderkey,
               COUNT(DISTINCT l_suppkey) AS nsupp,
               COUNT(DISTINCT CASE WHEN is_late = 1 THEN l_suppkey END) AS nlate
        FROM flines GROUP BY l_orderkey
    )
    SELECT s_name, COUNT(DISTINCT f.l_orderkey) AS numwait
    FROM flines f
    JOIN ostats o ON f.l_orderkey = o.l_orderkey
    JOIN supplier ON s_suppkey = f.l_suppkey
    WHERE f.is_late = 1 AND o.nsupp > 1 AND o.nlate = 1
    GROUP BY s_name
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    orders = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    flines = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "l_orderkey",
        "l_suppkey",
        F.when(
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"), 1
        )
        .otherwise(0)
        .alias("is_late"),
    )
    # both existence tests ride ONE window over partitionBy(l_orderkey):
    # the old groupBy + join-back referenced the flines subtree twice
    # with different downstream filters (non-identical canonical plans,
    # so the exchange was NOT reused — lineitem+orders scanned and
    # joined twice). size(collect_set(x)) == COUNT(DISTINCT x) (both
    # drop NULLs; the nlate CASE is NULL on on-time rows). r17 A/B
    # (OPTIMIZATION_r17.md §13, sf0.1, 4 interleaved noop reps): groupjoin
    # min 1.037 s vs window min 0.707 s; at scale 1 fact scan/join/
    # exchange instead of 2 each.
    w = Window.partitionBy("l_orderkey")
    late = (
        flines.withColumn("nsupp", F.size(F.collect_set("l_suppkey").over(w)))
        .withColumn(
            "nlate",
            F.size(
                F.collect_set(
                    F.when(F.col("is_late") == 1, F.col("l_suppkey"))
                ).over(w)
            ),
        )
        .filter(
            (F.col("is_late") == 1) & (F.col("nsupp") > 1) & (F.col("nlate") == 1)
        )
    )
    return (
        late.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count_distinct("l_orderkey").alias("numwait"))
    )
