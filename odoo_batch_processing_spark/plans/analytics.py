"""Star-schema analytic plans (X1 in SURVEY.md §2.3).

The reference has no analytical queries beyond counts
(Odoo-Batch-Processing.user.js:202-208); these plans are the
driver-mandated extension surface: TPC-H-shaped queries over the
fixture star schema (lineitem fact; orders/customer/nation/region/
part/supplier dimensions).

Scale posture: explicit ``F.broadcast`` hints appear ONLY on the
fixed-cardinality dims (region: 5 rows, nation: 25 — invariant at any
scale factor). Everything that grows with the scale factor (orders,
customer, supplier, part, derived aggregates) is hint-free: a
broadcast *hint* is honored unconditionally — AQE cannot demote it —
so a hinted SF-scaling relation is a guaranteed driver OOM at 100 TB.
Hint-free sides fall under ``spark.sql.autoBroadcastJoinThreshold``
(64 MB, session.RUNTIME_CONFS), which broadcasts them at fixture
scale (same physical plans as before) and flips to shuffled-hash/
sort-merge with AQE skew splitting once they outgrow it.
``tests/test_plan_hygiene.py::test_no_broadcast_hints_on_sf_scaling_relations``
enforces this invariant over the whole catalog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from odoo_batch_processing_spark.functions.exprs import avg_as_double, charge, dec, money_sum, revenue
from odoo_batch_processing_spark.sources.loader import fan_out, load_table


def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped pricing summary over lineitem.

    Exercises: parquet scan with predicate pushdown, partial+final
    aggregation, 8 aggregates over 2 grouping keys (6 groups → the
    shuffle moves ~48 values per map partition).

    OPTIMIZATION r17 (guide §2.5 input skew): the fixture ships
    lineitem as one unsplittable row group, so the decimal-heavy map
    side (revenue/charge multiplies + 8 partial aggregates) ran on ONE
    core; the filtered 6-column projection is ``fan_out`` so that work
    parallelizes (no-op at corpus scale where the scan arrives split).
    All sums are exact DECIMAL — order-independent, result
    bit-identical.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        fan_out(
            lineitem.filter(
                F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
            ).select(
                "l_returnflag",
                "l_linestatus",
                "l_quantity",
                "l_extendedprice",
                "l_discount",
                "l_tax",
            ),
            spark,
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            money_sum(dec("l_quantity"), "sum_qty"),
            money_sum(dec("l_extendedprice"), "sum_base_price"),
            money_sum(revenue(), "sum_disc_price"),
            money_sum(charge(), "sum_charge"),
            avg_as_double(dec("l_quantity"), F.count(F.lit(1)), "avg_qty"),
            avg_as_double(dec("l_extendedprice"), F.count(F.lit(1)), "avg_price"),
            avg_as_double(dec("l_discount"), F.count(F.lit(1)), "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


ORACLE_Q01 = """
SELECT
    l_returnflag,
    l_linestatus,
    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) * (1 + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE) AS sum_charge,
    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(1) AS avg_qty,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(1) AS avg_price,
    CAST(SUM(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) / COUNT(1) AS avg_disc,
    COUNT(1) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q05_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship (X1): revenue by nation for one region and date window.

    TPC-H-Q5-shaped star join
    lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region → groupBy(n_name).

    Plan shape (verified via .explain("formatted")): lineitem scans with
    no pushed filter (fact side is the probe), orders scans with the
    o_orderdate range pushed to parquet, every dimension is broadcast
    at fixture scale (orders/customer via the size threshold, nation/
    region via explicit hint), aggregation is partial→final on 25 keys
    max. Single shuffle.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(money_sum(revenue(), "revenue"))
        .orderBy(F.col("revenue").desc())
    )


ORACLE_Q05 = """
SELECT
    n_name,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC
"""


def q03_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-shaped: top-10 orders by revenue for one market segment.

    Exercises: broadcast semi-star join + agg + deterministic top-N
    (ties broken by the unique o_orderkey so the oracle picks the same
    rows).
    """
    lineitem = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-06-01").cast("timestamp")
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-06-01").cast("timestamp")
    )
    customer = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(money_sum(revenue(), "order_revenue"))
        .orderBy(F.col("order_revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


ORACLE_Q03 = """
SELECT
    o_orderkey,
    o_orderdate,
    o_orderpriority,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS order_revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE l_shipdate > TIMESTAMP '1997-06-01'
  AND o_orderdate < TIMESTAMP '1998-06-01'
  AND c_mktsegment = 'BUILDING'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY order_revenue DESC, o_orderkey
LIMIT 10
"""


def q09_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q9-shaped: supplier-nation profit by year.

    Exercises the supplier leg of the star plus a date-part grouping.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    return (
        lineitem.join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        .agg(money_sum(revenue(), "sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


ORACLE_Q09 = """
SELECT
    n_name AS nation,
    CAST(year(o_orderdate) AS BIGINT) AS o_year,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN orders   ON l_orderkey = o_orderkey
GROUP BY n_name, year(o_orderdate)
ORDER BY nation, o_year DESC
"""


def q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q6-shaped: pure scan-and-aggregate with three range
    predicates, all pushed to the parquet reader — the canonical
    'filters belong in the scan' query (no join, no window, one
    tiny shuffle for the final agg)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            money_sum(dec("l_extendedprice") * dec("l_discount"), "forecast_revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q14-shaped: promo revenue share — conditional aggregation
    over a broadcast dimension join; the ratio is one double division
    of two exact decimal sums."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-06-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    joined = li.join(part, F.col("l_partkey") == F.col("p_partkey"))
    promo = F.when(F.col("p_type") == "PROMO", revenue()).otherwise(F.lit(0).cast("decimal(12,2)"))
    return joined.agg(
        (
            F.lit(100.0)
            * F.sum(promo).cast("double")
            / F.sum(revenue()).cast("double")
        ).alias("promo_pct"),
        F.count(F.lit(1)).alias("n_rows"),
    )


QUERIES = {
    "q01_pricing_summary": q01_pricing_summary,
    "q03_top_orders": q03_top_orders,
    "q05_revenue_by_nation": q05_revenue_by_nation,
    "q09_profit_by_nation_year": q09_profit_by_nation_year,
    "q06_forecast_revenue": q06_forecast_revenue,
    "q14_promo_effect": q14_promo_effect,
}

ORACLE_Q06 = """
SELECT
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS forecast_revenue,
    COUNT(1) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_discount >= 0.03 AND l_discount <= 0.07
  AND l_quantity < 24
"""

ORACLE_Q14 = """
SELECT
    100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                 THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))
                 ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
         / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS promo_pct,
    COUNT(1) AS n_rows
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-03-01'
  AND l_shipdate <  TIMESTAMP '1997-06-01'
"""

ORACLES = {
    "q01_pricing_summary": ORACLE_Q01,
    "q03_top_orders": ORACLE_Q03,
    "q05_revenue_by_nation": ORACLE_Q05,
    "q09_profit_by_nation_year": ORACLE_Q09,
    "q06_forecast_revenue": ORACLE_Q06,
    "q14_promo_effect": ORACLE_Q14,
}

