"""Correlated-subquery surface — the TPC-H-shaped decision-support
queries (Q2/Q4/Q13/Q15/Q18/Q22 adapted to the fixture's simplified
schema).

Spark-first shape: each correlated subquery is expressed as the
join/window Catalyst would decorrelate it into — a window min, a
left-semi/anti join, a grouped HAVING feeding a semi join, a broadcast
scalar — so the plan is explicit instead of relying on the optimizer's
decorrelation, while the DuckDB oracle keeps the classic subquery form
to prove the semantics match.

Determinism: money aggregates in DECIMAL(18,2) (functions/money.py),
scalar thresholds computed with the same decimal-exact formula on both
sides (a float avg differs across partition orders — never compare
against one).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from logicash_etl_spark.functions.money import dsum, money
from logicash_etl_spark.queries.registry import query
from logicash_etl_spark.operators.joins import broadcast_bounded
from logicash_etl_spark.sources.readers import read_table


@query(
    "min_cost_supplier",
    oracle="""
    SELECT l_partkey AS p_partkey,
           CAST(l_extendedprice AS DOUBLE) AS min_price,
           min(l_suppkey) AS best_suppkey
    FROM lineitem l1
    WHERE l_extendedprice = (SELECT min(l_extendedprice) FROM lineitem l2
                             WHERE l2.l_partkey = l1.l_partkey)
    GROUP BY l_partkey, l_extendedprice
    """,
)
def min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: per part, the supplier(s) quoting the minimum
    price — a correlated scalar subquery, decorrelated explicitly into
    a per-part window min + equality filter (ONE shuffle on partkey;
    ties collapse to min suppkey for determinism). At 100 TB the
    window and the groupBy share the same partitioning, so Catalyst
    reuses the exchange."""
    li = read_table(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_partkey")
    return (
        li.withColumn("__mn", F.min("l_extendedprice").over(w))
        .filter(F.col("l_extendedprice") == F.col("__mn"))
        .groupBy(F.col("l_partkey").alias("p_partkey"),
                 F.col("l_extendedprice").cast("double").alias("min_price"))
        .agg(F.min("l_suppkey").alias("best_suppkey"))
    )


@query(
    "priority_order_exists",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
    GROUP BY o_orderpriority
    """,
)
def priority_order_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS correlated subquery == left-semi join.
    The date filter prunes the orders scan BEFORE the join (pushed to
    parquet), and the semi join shuffles only orderkeys — the probe
    side never carries payload columns."""
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    flagged = (
        read_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("o_orderkey"))
    )
    return (
        o.join(flagged, on="o_orderkey", how="left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


@query(
    "big_ticket_orders",
    oracle="""
    SELECT c_name, o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey
                         HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250)
    GROUP BY c_name, o_orderkey, o_totalprice
    """,
)
def big_ticket_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: grouped HAVING inside an IN subquery. The
    decorrelation here goes one step past semi-join form: the HAVING
    aggregate already computes the per-order quantity the output
    reports, so qualifying (orderkey, sum_qty) rows join orders
    directly — lineitem is scanned and shuffled ONCE (the naive
    semi-join-then-rejoin shape scans it twice), and the rare
    qualifying set arrives pre-shrunk at the joins. Customer dim
    broadcasts."""
    li = read_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(F.sum(money("l_quantity")).alias("__q"))
        .filter(F.col("__q") > 250)
    )
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, on="o_orderkey")
        .join(broadcast_bounded(c, bounded=False), o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            money("o_totalprice").cast("double").alias("total_price"),
            F.col("__q").cast("double").alias("sum_qty"),
        )
    )


@query(
    "customer_order_distribution",
    oracle="""
    WITH c_orders AS (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    )
    SELECT c_count, count(*) AS custdist
    FROM c_orders GROUP BY c_count
    """,
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: outer join with a JOIN-TIME predicate (not a
    WHERE — customers with zero matches must survive with count 0),
    then a distribution-of-counts double aggregate. count(col) vs
    count(*) distinction does the null accounting."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, how="left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@query(
    "top_revenue_supplier",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_rev
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_rev = (SELECT max(total_rev) FROM rev)
    """,
)
def top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: scalar MAX subquery over an aggregate view.
    The revenue view computes once (persist-free: Catalyst reuses the
    exchange under AQE); the max is a one-row broadcast joined back —
    equality on a DECIMAL-exact sum is safe where a float sum's
    partition-order noise would drop the winner."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum(money("l_extendedprice") * (1 - money("l_discount"))).alias("__rev")
    )
    mx = rev.agg(F.max("__rev").alias("__mx"))
    s = read_table(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(mx), rev.__rev == mx.__mx)
        .join(broadcast_bounded(s, bounded=False), rev.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", F.col("__rev").cast("double").alias("total_rev"))
    )


@query(
    "rich_idle_customers",
    oracle="""
    SELECT c_nationkey, count(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
    FROM customer
    WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                              / count(*)
                       FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY c_nationkey
    """,
)
def rich_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar AVG threshold + NOT EXISTS, as a
    broadcast one-row cross join + left-anti join. The threshold is
    the decimal-exact avg (sum(dec)/count in double) on BOTH sides:
    comparing against a float avg is partition-order-dependent and
    flips borderline rows between runs."""
    c = read_table(spark, sf_dir, "customer")
    thr = (
        c.filter(F.col("c_acctbal") > 0)
        .agg((F.sum(money("c_acctbal")).cast("double") / F.count("c_acctbal")).alias("__thr"))
    )
    recent = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "2000-01-01")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return (
        c.crossJoin(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("__thr"))
        .join(recent, on="c_custkey", how="left_anti")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_customers"), dsum("c_acctbal", "total_bal"))
    )


@query(
    "waiting_suppliers",
    oracle="""
    SELECT s_suppkey, s_name, count(DISTINCT l1.l_orderkey) AS numwait
    FROM lineitem l1
      JOIN orders   ON o_orderkey = l1.l_orderkey
      JOIN supplier ON s_suppkey = l1.l_suppkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                        JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)
    GROUP BY s_suppkey, s_name
    """,
)
def waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (EXISTS + NOT EXISTS, doubly correlated),
    adapted to the fixture schema (late = shipped >60 days after the
    order date; the fixture has no commit/receipt dates).

    Spark-first decorrelation: ONE pass builds per-(order, supplier)
    late flags, ONE reuse of that frame aggregates per-order supplier
    and late-supplier counts — the EXISTS ("some other supplier") and
    NOT EXISTS ("no other late supplier") collapse to n_supp > 1 AND
    n_late = 1 for a late supplier. Two shuffles total (orderkey x
    suppkey, then orderkey), vs the naive plan's two extra correlated
    rescans of lineitem. The supplier dim joins broadcast."""
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    lo = (
        li.join(o, on=[li.l_orderkey == o.o_orderkey])
        .withColumn(
            "late",
            (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
            .cast("int"),
        )
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("late").alias("late"))
    )
    per_order = lo.groupBy("l_orderkey").agg(
        F.count("*").alias("n_supp"), F.sum("late").alias("n_late")
    )
    sup = broadcast_bounded(
        read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name"), bounded=False
    )
    return (
        lo.filter(F.col("late") == 1)
        .join(per_order, on="l_orderkey")
        .filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
        .join(sup, on=[F.col("l_suppkey") == F.col("s_suppkey")])
        .groupBy("s_suppkey", "s_name")
        .agg(F.count("*").alias("numwait"))
    )


@query(
    "important_parts_value",
    oracle="""
    SELECT l_partkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS part_value
    FROM lineitem
    GROUP BY l_partkey
    HAVING SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 500 >
           (SELECT SUM(CAST(l_extendedprice AS DECIMAL(18,2))) FROM lineitem)
    """,
)
def important_parts_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: groups filtered against a GLOBAL scalar
    subquery (parts holding > 1/500 of total line value).

    Spark-first: the global total is a one-row aggregate broadcast
    into the HAVING filter (crossJoin of a single row — the sanctioned
    broadcast-scalar idiom), so the fact table is scanned ONCE for the
    groups and once for the scalar, never rescanned per group. The
    threshold compare is decimal*integer on BOTH sides — exact, no
    float boundary flips."""
    li = read_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(money("l_extendedprice")).alias("__val")
    )
    total = li.agg(F.sum(money("l_extendedprice")).alias("__total"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("__val") * 500 > F.col("__total"))
        .select("l_partkey", F.col("__val").cast("double").alias("part_value"))
    )
