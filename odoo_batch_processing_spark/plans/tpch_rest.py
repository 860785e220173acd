"""The remaining TPC-H query shapes (Q8, Q10, Q11, Q12, Q15, Q16,
Q18, Q20, Q21), completing 22/22 coverage of the canonical analytics
suite alongside plans/analytics.py and plans/advanced.py.

The fixture schema is a slimmed TPC-H: there is no ``partsupp`` table
and lineitem lacks shipmode/commitdate/receiptdate. Queries whose
canonical form needs those columns are ADAPTED — same join topology,
subquery shape, and optimizer stress (that is what the engine is being
graded on), different predicate columns:

* Q11 values parts by lineitem revenue instead of supplycost×availqty;
* Q12 classifies by ship-delay buckets instead of shipmode;
* Q16 derives part-supplier pairs from distinct lineitem keys and
  blacklists negative-balance suppliers in place of complaint comments;
* Q20/Q21 use ship-delay and PROMO-type predicates for the
  availability/receipt-delay conditions.

All entries live in the extended tier (the driver-facing core is
capped at 50 and already covers every operator family); the DuckDB
oracles below keep them under the same hash-comparison gate via
``tools/oracle_check.py --extended``.

Scale notes: every join is an equi-join on a key column except the
two one-row scalar-aggregate cross joins (Q11's total, Q15's max) —
a broadcast nested-loop whose build side is exactly ONE row is free
at any scale (same justification as Q22). No broadcast hints
anywhere: nation/region broadcast under the size threshold, and
every SF-scaling side is left to AQE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from odoo_batch_processing_spark.functions.exprs import dec, money_sum, revenue
from odoo_batch_processing_spark.sources.loader import load_table

#: ship-delay (days between order date and line ship date) above which
#: a lineitem counts as "late" — ~p85 of the fixture distribution, the
#: stand-in for Q21's l_receiptdate > l_commitdate.
LATE_DELAY_DAYS = 1000

#: Q18's large-volume threshold on per-order total quantity.
BIG_ORDER_QTY = 200

#: Q20's per-(part, supplier) shipped-quantity threshold for 1996.
PROMO_SHIPPED_QTY = 55

#: Q11's importance multiplier: parts worth more than this multiple of
#: the mean per-part value.
IMPORTANT_VALUE_MULT = 1.3


def _q_q08_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q8-shaped national market share: NATION_3 suppliers' slice
    of ASIA-customer PROMO-part revenue per order year. The share is a
    conditional aggregate over one 8-relation join — numerator and
    denominator in a single pass, both exact-decimal."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    n_cust = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    n_supp = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    joined = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(n_cust, F.col("c_nationkey") == F.col("cn_key"))
        .join(region, F.col("cn_region") == F.col("r_regionkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(n_supp, F.col("s_nationkey") == F.col("sn_key"))
    )
    target = F.when(F.col("supp_nation") == "NATION_3", revenue()).otherwise(
        dec(F.lit(0))
    )
    return (
        joined.groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            (F.sum(target).cast("double") / F.sum(revenue()).cast("double")).alias(
                "mkt_share"
            ),
            money_sum(revenue(), "total_revenue"),
        )
    )


def _q_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q10-shaped returned-item report: top 20 customers by
    revenue lost to returns in 1996H1. Deterministic top-N via the
    (revenue DESC, custkey) tie-break."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(money_sum(revenue(), "lost_revenue"))
        .orderBy(F.col("lost_revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


def _q_q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q11-shaped importance filter: parts whose total lineitem
    value exceeds IMPORTANT_VALUE_MULT × the mean per-part value — the
    HAVING-against-scalar-subquery shape. The scalar side is a one-row
    aggregate cross-joined in (free BNLJ; allow-listed with Q22)."""
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(dec("l_extendedprice")).alias("value_dec")
    )
    mean_value = per_part.agg(
        (F.sum("value_dec").cast("double") / F.count(F.lit(1))).alias("mean_value")
    )
    return (
        per_part.join(mean_value)
        .filter(
            F.col("value_dec").cast("double")
            > F.lit(IMPORTANT_VALUE_MULT) * F.col("mean_value")
        )
        .select("l_partkey", F.col("value_dec").cast("double").alias("part_value"))
    )


def _q_q12_ship_delay_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q12-shaped priority split by shipping class. The fixture
    has no l_shipmode, so the class derives from the order→ship delay
    (FAST ≤90d < MEDIUM ≤1000d < SLOW); the aggregate is the canonical
    pair of conditional counts (urgent vs other order priority)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.year("o_orderdate") == 1996
    )
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    ship_class = (
        F.when(delay <= 90, "FAST").when(delay <= LATE_DELAY_DAYS, "MEDIUM").otherwise("SLOW")
    )
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(ship_class.alias("ship_class"))
        .agg(
            F.sum(urgent.cast("bigint")).alias("high_line_count"),
            F.sum((~urgent).cast("bigint")).alias("low_line_count"),
        )
    )


def _q_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q15-shaped top supplier: supplier(s) achieving the maximum
    1996Q1 revenue. The max is a one-row aggregate joined back; the
    equality compares exact decimals, so ties surface exactly as in
    the reference SQL (no double-rounding hazard)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    supp = load_table(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(F.sum(revenue()).alias("rev_dec"))
    best = rev.agg(F.max("rev_dec").alias("best_dec"))
    return (
        rev.join(best)
        .filter(F.col("rev_dec") == F.col("best_dec"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("rev_dec").cast("double").alias("total_revenue"),
        )
    )


def _q_q16_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q16-shaped supplier counting: distinct suppliers per
    (brand, type, size) for non-PROMO, non-Brand#1 smallish parts,
    excluding blacklisted (negative-balance) suppliers via anti-join —
    the NOT IN subquery shape. Pairs come from distinct lineitem keys
    (the fixture's stand-in for partsupp)."""
    pairs = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size") < 25)
    )
    return (
        pairs.join(bad, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def _q_q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q18-shaped large-volume customers: orders whose total
    quantity exceeds BIG_ORDER_QTY, top 100 by order value. The HAVING
    subquery de-correlates into a per-order aggregate semi-joined back
    (the aggregate output is order-grained — it joins, never inflates)."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity")).alias("qty_dec"))
        .filter(F.col("qty_dec") > BIG_ORDER_QTY)
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.col("qty_dec").cast("double").alias("total_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


def _q_q20_promo_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q20-shaped nested semi-joins: suppliers who shipped more
    than PROMO_SHIPPED_QTY units of some PROMO part in 1996 — part
    filter → per-(part,supplier) aggregate → threshold → supplier
    semi-join, each stage shrinking the key set before the next."""
    promo = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    shipped = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.year("l_shipdate") == 1996)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(dec("l_quantity")).alias("shipped_dec"))
    )
    heavy = shipped.join(
        promo, F.col("l_partkey") == F.col("p_partkey"), "left_semi"
    ).filter(F.col("shipped_dec") > PROMO_SHIPPED_QTY)
    supp = load_table(spark, sf_dir, "supplier")
    return (
        supp.join(
            heavy.select("l_suppkey"), F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
        )
        .select("s_suppkey", "s_name")
    )


def _q_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q21-shaped blame assignment: for finished multi-supplier
    orders, the suppliers who were the ONLY late one (ship delay >
    LATE_DELAY_DAYS) — EXISTS(another supplier) AND NOT EXISTS(another
    LATE supplier), compiled as a semi- then anti-join on the order key
    with a supplier-inequality residual. The per-(order, supplier)
    late flag collapses lineitem first, so the self-joins run on the
    much smaller flag relation."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    flags = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max((delay > LATE_DELAY_DAYS).cast("int")).alias("is_late"))
    )
    others = flags.select(
        F.col("l_orderkey").alias("f2_orderkey"),
        F.col("l_suppkey").alias("f2_suppkey"),
        F.col("is_late").alias("f2_late"),
    )
    late = flags.filter(F.col("is_late") == 1)
    with_other = late.join(
        others,
        (F.col("l_orderkey") == F.col("f2_orderkey"))
        & (F.col("l_suppkey") != F.col("f2_suppkey")),
        "left_semi",
    )
    sole_late = with_other.join(
        others,
        (F.col("l_orderkey") == F.col("f2_orderkey"))
        & (F.col("l_suppkey") != F.col("f2_suppkey"))
        & (F.col("f2_late") == 1),
        "left_anti",
    )
    supp = load_table(spark, sf_dir, "supplier")
    return (
        sole_late.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


QUERIES = {
    "q08_market_share": _q_q08_market_share,
    "q10_returned_items": _q_q10_returned_items,
    "q11_important_parts": _q_q11_important_parts,
    "q12_ship_delay_classes": _q_q12_ship_delay_classes,
    "q15_top_supplier": _q_q15_top_supplier,
    "q16_supplier_counts": _q_q16_supplier_counts,
    "q18_large_volume": _q_q18_large_volume,
    "q20_promo_suppliers": _q_q20_promo_suppliers,
    "q21_waiting_suppliers": _q_q21_waiting_suppliers,
}

ORACLES = {
    "q08_market_share": """
        SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
               CAST(SUM(CASE WHEN n2.n_name = 'NATION_3'
                             THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))
                             ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
               / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS mkt_share,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS total_revenue
        FROM lineitem
        JOIN part     ON l_partkey = p_partkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region   ON n1.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE p_type = 'PROMO' AND r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1998-01-01'
        GROUP BY year(o_orderdate)
    """,
    "q10_returned_items": """
        SELECT c_custkey, c_name, n_name,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS lost_revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1996-07-01'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY lost_revenue DESC, c_custkey
        LIMIT 20
    """,
    "q11_important_parts": """
        WITH per_part AS (
            SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS value_dec
            FROM lineitem GROUP BY l_partkey
        ),
        mean_value AS (
            SELECT CAST(SUM(value_dec) AS DOUBLE) / COUNT(1) AS mean_value FROM per_part
        )
        SELECT l_partkey, CAST(value_dec AS DOUBLE) AS part_value
        FROM per_part CROSS JOIN mean_value
        WHERE CAST(value_dec AS DOUBLE) > 1.3 * mean_value
    """,
    "q12_ship_delay_classes": """
        SELECT CASE WHEN datediff('day', o_orderdate, l_shipdate) <= 90 THEN 'FAST'
                    WHEN datediff('day', o_orderdate, l_shipdate) <= 1000 THEN 'MEDIUM'
                    ELSE 'SLOW' END AS ship_class,
               SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS high_line_count,
               SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE year(o_orderdate) = 1996
        GROUP BY 1
    """,
    "q15_top_supplier": """
        WITH rev AS (
            SELECT l_suppkey,
                   SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS rev_dec
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate <  TIMESTAMP '1996-04-01'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, CAST(rev_dec AS DOUBLE) AS total_revenue
        FROM rev JOIN supplier ON l_suppkey = s_suppkey
        WHERE rev_dec = (SELECT MAX(rev_dec) FROM rev)
    """,
    "q16_supplier_counts": """
        WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
        FROM pairs
        JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO' AND p_size < 25
          AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY p_brand, p_type, p_size
    """,
    "q18_large_volume": """
        WITH big AS (
            SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty_dec
            FROM lineitem GROUP BY l_orderkey
            HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 200
        )
        SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
               CAST(qty_dec AS DOUBLE) AS total_qty
        FROM orders
        JOIN big ON o_orderkey = l_orderkey
        JOIN customer ON o_custkey = c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 100
    """,
    "q20_promo_suppliers": """
        WITH heavy AS (
            SELECT l_suppkey
            FROM lineitem
            WHERE year(l_shipdate) = 1996
              AND l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
            GROUP BY l_partkey, l_suppkey
            HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 55
        )
        SELECT s_suppkey, s_name
        FROM supplier
        WHERE s_suppkey IN (SELECT l_suppkey FROM heavy)
    """,
    "q21_waiting_suppliers": """
        WITH flags AS (
            SELECT l_orderkey, l_suppkey,
                   MAX(CASE WHEN datediff('day', o_orderdate, l_shipdate) > 1000
                            THEN 1 ELSE 0 END) AS is_late
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE o_orderstatus = 'F'
            GROUP BY l_orderkey, l_suppkey
        )
        SELECT s_name, COUNT(1) AS numwait
        FROM flags f1 JOIN supplier ON f1.l_suppkey = s_suppkey
        WHERE f1.is_late = 1
          AND EXISTS (SELECT 1 FROM flags f2
                      WHERE f2.l_orderkey = f1.l_orderkey
                        AND f2.l_suppkey <> f1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM flags f3
                          WHERE f3.l_orderkey = f1.l_orderkey
                            AND f3.l_suppkey <> f1.l_suppkey
                            AND f3.is_late = 1)
        GROUP BY s_name
    """,
}
