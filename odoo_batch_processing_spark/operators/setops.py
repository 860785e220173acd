"""Set operations (absent in the reference — SURVEY.md §2.2 'set ops:
absent'; built-ins close the gap for the new engine's surface).

All three are shuffle-on-key operators; INTERSECT/EXCEPT compile to
semi/anti joins under Catalyst, so the usual join hygiene applies
(broadcast the small side — here both sides are key projections, so
the aggregate pushdown keeps them narrow).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from odoo_batch_processing_spark.sources.loader import load_table


def _q_set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) of two segment key sets."""
    cust = load_table(spark, sf_dir, "customer")
    a = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = cust.filter(F.col("c_mktsegment") == "MACHINERY").select("c_custkey")
    return a.union(b).distinct()


def _q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with orders in both 1996 and 1997 (INTERSECT → left
    semi join under the hood)."""
    orders = load_table(spark, sf_dir, "orders")
    y96 = orders.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    y97 = orders.filter(F.year("o_orderdate") == 1997).select("o_custkey")
    return y96.intersect(y97)


def _q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers without 1996 orders (EXCEPT → left anti join).

    Time-restricted so the result is non-degenerate on the fixtures:
    every customer has SOME order, so an unrestricted EXCEPT returns 0
    rows and its oracle match would be vacuous."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    with_orders_96 = (
        load_table(spark, sf_dir, "orders")
        .filter(F.year("o_orderdate") == 1996)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return cust.subtract(with_orders_96)  # subtract = EXCEPT DISTINCT


def _q_set_ops_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three set operators in one plan: (BUILDING ∪ MACHINERY
    customers) ∩ customers-with-1996-orders \\ customers-with-1997-
    orders. Each op keeps the key projection narrow so every shuffle
    moves 8-byte keys only."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    seg = (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
        .union(cust.filter(F.col("c_mktsegment") == "MACHINERY").select("c_custkey"))
        .distinct()
    )
    y96 = orders.filter(F.year("o_orderdate") == 1996).select(
        F.col("o_custkey").alias("c_custkey")
    )
    y97 = orders.filter(F.year("o_orderdate") == 1997).select(
        F.col("o_custkey").alias("c_custkey")
    )
    return seg.intersect(y96).subtract(y97)


QUERIES = {
    "set_ops_chain": _q_set_ops_chain,
    "set_union": _q_set_union,
    "set_intersect": _q_set_intersect,
    "set_except": _q_set_except,
}

ORACLES = {
    "set_union": """
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        UNION
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
    """,
    "set_intersect": """
        SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
        INTERSECT
        SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
    """,
    "set_except": """
        SELECT DISTINCT c_custkey FROM customer
        EXCEPT
        SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    """,
    "set_ops_chain": """
        (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
         UNION
         SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY')
        INTERSECT
        SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
        EXCEPT
        SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
    """,
}
