"""Advanced SQL surface: multi-dimensional aggregation (ROLLUP/CUBE/
PIVOT), semi-join EXISTS shapes, correlated-aggregate joins, and
scalar-function breadth.

The reference has none of these (SURVEY.md §2.2: aggregation is
'counts + boolean ANY'; set ops, window functions, date/array
functions all absent) — this module closes the analytics gap the
north star mandates. All built-ins; plan shapes noted per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from odoo_batch_processing_spark.functions.exprs import dec, money_sum, revenue
from odoo_batch_processing_spark.sources.loader import fan_out, load_table


def _q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (returnflag, linestatus): per-group, per-flag
    subtotal, grand total — one pass, Expand + single shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        money_sum(revenue(), "revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def _q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (priority, status): all 4 grouping sets."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        money_sum(dec("o_totalprice"), "total"),
    )


def _q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS — the general form ROLLUP/CUBE
    specialize: ((flag, status), (flag), ()) skips the (status)-only
    set a CUBE would compute, so Expand emits 3 replicas per row, not
    4 — at scale, exactly the sets you need and no more. SQL-string
    path (the DataFrame API exposes only rollup/cube; groupingSets is
    SQL surface in Spark).

    OPTIMIZATION r17 (guide §2.3/§2.5): (a) the revenue term is
    projected ONCE per input row, below the Expand — GROUPING SETS
    replicates rows 3×, and an aggregate-expression child is evaluated
    per replica, so the decimal multiply ran 3× per row; (b) the
    4-column projection is ``fan_out`` before the aggregate — the
    fixture ships lineitem as one unsplittable row group, so the whole
    map side (expand + decimal arithmetic + partial agg) otherwise
    runs on ONE core (at corpus scale the scan arrives split and
    fan_out no-ops). Exact decimal sums are order-independent, so the
    result is bit-identical (verified by value hash at sf0.1):
    1.67 → 0.89 s min-of-reps."""
    fan_out(
        load_table(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_linestatus", "l_extendedprice", "l_discount"
        ),
        spark,
    ).createOrReplaceTempView("lineitem_gs")
    return spark.sql("""
        WITH t AS (
            SELECT l_returnflag, l_linestatus,
                   CAST(l_extendedprice AS DECIMAL(12,2))
                   * (1 - CAST(l_discount AS DECIMAL(12,2))) AS rev_term
            FROM lineitem_gs
        )
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(rev_term) AS DOUBLE) AS revenue,
               COUNT(1) AS n_rows
        FROM t
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """)


def _q_agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT linestatus into columns (explicit value list so the plan
    needs no discovery pass — at scale an implicit pivot is an extra
    distinct scan)."""
    li = load_table(spark, sf_dir, "lineitem")
    out = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(dec("l_quantity")).cast("double"))
    )
    return out.select(
        "l_returnflag",
        F.col("O").alias("qty_open"),
        F.col("F").alias("qty_finished"),
    )


def _q_q04_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q4-shaped EXISTS: orders having ≥1 lineitem shipped after
    the order date, counted per priority. The EXISTS compiles to a
    LEFT SEMI join — no duplicate inflation, no distinct needed."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    sat = orders.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate")),
        "left_semi",
    )
    return sat.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n_orders"))


def _q_q17_small_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q17-shaped correlated aggregate: revenue from lineitems
    whose quantity is below half the part's average. The correlated
    scalar subquery is de-correlated by hand into a per-part aggregate
    joined back (what Catalyst does for such subqueries anyway). The
    agg side's cardinality is |part| — SF-scaling — so it carries NO
    broadcast hint: the size threshold broadcasts it at fixture scale
    and AQE picks a shuffled join once it outgrows 64 MB."""
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        (F.sum(dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty")
    )
    small = li.join(per_part, "l_partkey").filter(
        F.col("l_quantity") < 0.5 * F.col("avg_qty")
    )
    return small.agg(
        money_sum(dec("l_extendedprice"), "total_price"),
        F.count(F.lit(1)).alias("n_small"),
    )


def _q_q22_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q22-shaped NOT EXISTS: above-average-balance customers
    with no 1996 orders, counted per nation. The NOT EXISTS is a LEFT
    ANTI join; the average-balance scalar subquery is a one-row
    broadcast (the catalog's one legitimate 1-row nested-loop join).

    The 1996 restriction keeps the anti join non-degenerate on the
    fixtures (every customer has SOME order; ~1/3 lack a 1996 one).
    """
    cust = load_table(spark, sf_dir, "customer")
    orders_96 = (
        load_table(spark, sf_dir, "orders")
        .filter(F.year("o_orderdate") == 1996)
        .select("o_custkey")
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        (F.sum(F.col("c_acctbal").cast("decimal(12,2)")).cast("double") / F.count(F.lit(1))).alias("avg_bal")
    )
    rich = cust.join(F.broadcast(avg_bal)).filter(F.col("c_acctbal") > F.col("avg_bal"))
    inactive = rich.join(
        orders_96, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    )
    return inactive.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.col("c_acctbal").cast("decimal(12,2)")).cast("double").alias("total_bal"),
    )


def _q_q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q13-shaped: distribution of customers by order count —
    the catalog's LEFT OUTER join (customers with zero orders survive
    with count 0), then a second aggregation over the counts."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    # 1996-only: ~20% of customers lack a 1996 order, so the OUTER
    # join's NULL side is genuinely exercised (count 0 bucket non-empty)
    orders = load_table(spark, sf_dir, "orders").filter(
        F.year("o_orderdate") == 1996
    )
    per_cust = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))  # count(col) skips NULLs → 0
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


def _q_q07_nation_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q7-shaped: revenue flowing between two nation pairs in
    either direction — a disjunctive cross-dimension predicate over a
    supplier-nation × customer-nation join."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
    )
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_13")
    ) | ((F.col("supp_nation") == "NATION_13") & (F.col("cust_nation") == "NATION_3"))
    return (
        joined.filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("o_orderdate").cast("bigint").alias("l_year"))
        .agg(money_sum(revenue(), "revenue"))
    )


def _q_scalar_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/string/array scalar coverage in one projection (the
    reference's entire scalar surface was trim/split/lower/concat —
    SURVEY.md §2.2); every function here is JVM-side codegen."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").cast("bigint").alias("yr"),
        F.quarter("o_orderdate").cast("bigint").alias("qtr"),
        F.month("o_orderdate").cast("bigint").alias("mo"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp"))
        .cast("bigint")
        .alias("days_since_epoch_start"),
        F.last_day("o_orderdate").alias("month_end"),
        F.upper("o_orderstatus").alias("status_u"),
        F.lpad(F.col("o_orderkey").cast("string"), 10, "0").alias("key_padded"),
        F.translate("o_orderpriority", "-", "_").alias("prio_t"),
        F.substring("o_orderpriority", 3, 6).alias("prio_word"),
        F.reverse("o_orderstatus").alias("status_r"),
        F.length("o_orderpriority").cast("bigint").alias("prio_len"),
        F.size(F.split("o_orderpriority", "-")).cast("bigint").alias("prio_parts"),
        F.element_at(F.split("o_orderpriority", "-"), 1).alias("prio_rank"),
    )


def _q_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q19-shaped: a disjunction of conjunctive brand/size/
    quantity predicates across the join — the optimizer test is that
    the OR-of-ANDs still leaves an equi-join (key match) with the
    disjunction as a post-join filter, NOT a nested-loop join."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    joined = li.join(part, F.col("l_partkey") == F.col("p_partkey"))
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 10) & (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 20))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size") <= 20) & (F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 30))
        | ((F.col("p_brand") == "Brand#3") & (F.col("p_size") <= 30) & (F.col("l_quantity") >= 20) & (F.col("l_quantity") <= 40))
    )
    return joined.filter(cond).agg(
        money_sum(revenue(), "revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def _q_q02_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q2-shaped correlated MIN: per part, the supplier(s) whose
    account balance equals the per-part maximum among its suppliers.
    The correlated subquery de-correlates into a per-part aggregate
    joined back (same pattern as Q17), ties broken deterministically
    by supplier key in the output ordering columns."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    supplier = load_table(spark, sf_dir, "supplier")
    pairs = li.join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
    best = pairs.groupBy("l_partkey").agg(F.max("s_acctbal").alias("best_bal"))
    return (
        pairs.join(best, "l_partkey")
        .filter(F.col("s_acctbal") == F.col("best_bal"))
        .select("l_partkey", "s_suppkey", "s_name", "s_acctbal")
    )


def _q_agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): wide per-flag quantity columns back to long form
    — `unpivot` is a zero-shuffle projection (each input row expands to
    k output rows in place)."""
    wide = _q_agg_pivot(spark, sf_dir)
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["qty_open", "qty_finished"],
        variableColumnName="metric",
        valueColumnName="qty",
    )


def _q_window_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function breadth: lag/lead/ntile/percent_rank over the
    per-customer order sequence — the analytic-function surface the
    reference entirely lacks (SURVEY.md §2.2 'window functions:
    absent'). One shuffle (partitionBy), deterministic order via the
    unique orderkey tie-break."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_orderkey", 1, -1).over(w).alias("prev_order"),
        F.lead("o_orderkey", 1, -1).over(w).alias("next_order"),
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
    )


def _q_expr_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar + window-function breadth in ONE per-row projection over
    orders (merges the former scalar_breadth, window_breadth and
    w_running_total entries, plus null-safe equality):

    * date/string/array scalars — the reference's entire scalar surface
      was trim/split/lower/concat (SURVEY.md §2.2); everything here is
      JVM-side codegen;
    * lag/lead/ntile/percent_rank + a frame-bounded running sum over
      the per-customer order sequence (one shuffle: partitionBy);
    * null-safe equality (<=> / IS NOT DISTINCT FROM) — the semantics
      merge/dedup keys need when nullable (NULL <=> NULL is TRUE where
      plain equality is NULL).

    Deterministic order via the unique orderkey tie-break; the running
    sum goes through DECIMAL so it is order-independent.
    """
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wsum = w.rowsBetween(Window.unboundedPreceding, 0)
    null_status = F.nullif(F.col("o_orderstatus"), F.col("o_orderstatus"))  # always NULL
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.year("o_orderdate").cast("bigint").alias("yr"),
        F.quarter("o_orderdate").cast("bigint").alias("qtr"),
        F.month("o_orderdate").cast("bigint").alias("mo"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp"))
        .cast("bigint")
        .alias("days_since_epoch_start"),
        F.last_day("o_orderdate").alias("month_end"),
        F.upper("o_orderstatus").alias("status_u"),
        F.lpad(F.col("o_orderkey").cast("string"), 10, "0").alias("key_padded"),
        F.translate("o_orderpriority", "-", "_").alias("prio_t"),
        F.substring("o_orderpriority", 3, 6).alias("prio_word"),
        F.length("o_orderpriority").cast("bigint").alias("prio_len"),
        F.size(F.split("o_orderpriority", "-")).cast("bigint").alias("prio_parts"),
        F.element_at(F.split("o_orderpriority", "-"), 1).alias("prio_rank"),
        F.lag("o_orderkey", 1, -1).over(w).alias("prev_order"),
        F.lead("o_orderkey", 1, -1).over(w).alias("next_order"),
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
        .over(wsum)
        .cast("double")
        .alias("running_total"),
        F.col("o_orderstatus").eqNullSafe(F.lit("O")).alias("is_open_nullsafe"),
        null_status.eqNullSafe(null_status).alias("null_selfmatch"),  # TRUE, not NULL
        (null_status == null_status).alias("plain_eq_is_null"),       # NULL
    )


def _q_q05_sql_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship query through the SQL-string API (temp views +
    spark.sql) — Catalyst produces the same plan either way; this entry
    pins that the engine's SQL surface matches its DataFrame surface."""
    from odoo_batch_processing_spark.sources.loader import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT n_name,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
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
    )


def _q_sql_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4's WITH RECURSIVE) walking a hierarchy:
    customers arranged as a deterministic binary tree (node k's parent
    is (k−1) div 2 — the heap rule, so the fixture needs no parent
    column), rolled up to nodes-and-balance per depth. This pins the
    engine's iterative-SQL surface: the recursion Catalyst unrolls
    here is the same loop shape the DataFrame API expresses with the
    CC/PageRank operators, but sourced from plain SQL.

    Termination is structural (a tree: child keys strictly greater),
    depth ≈ log2(customers) ≪ the engine's recursion limit. The
    per-level step is an equi-join on the computed parent key, so at
    scale each level is one hash join, not a nested loop; the decimal
    sum keeps the rollup order-independent.

    The recursion's anchor relation is CACHED (OPTIMIZATION r18, guide
    §6 / VERDICT r17 #6): UnionLoop re-plans the recursive term per
    level, and each of the ~log2(n) levels re-read the customer
    parquet from scratch — ~14 full scans of an unchanging two-column
    relation per run. Materializing the (c_custkey, c_acctbal)
    projection once turns every level's scan into an
    InMemoryTableScan; the projection also narrows what is pinned to
    exactly the two columns the recursion touches (ReadSchema was
    already pruned, but the cache would otherwise capture whatever the
    view carried). Same per-level join, same results — the oracle
    re-certifies the rollup unchanged."""
    from odoo_batch_processing_spark.session import materialize_once
    from odoo_batch_processing_spark.sources.loader import load_table

    cust = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_acctbal")
        .transform(materialize_once)
    )
    cust.createOrReplaceTempView("rc_customer")
    return spark.sql(
        """
        WITH RECURSIVE h AS (
            SELECT c_custkey, c_acctbal, 0 AS depth
            FROM rc_customer WHERE c_custkey = 0
            UNION ALL
            SELECT c.c_custkey, c.c_acctbal, h.depth + 1
            FROM rc_customer c JOIN h ON (c.c_custkey - 1) DIV 2 = h.c_custkey
            WHERE c.c_custkey > 0
        )
        SELECT depth,
               COUNT(1) AS n_nodes,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        FROM h GROUP BY depth
        """
    )


QUERIES = {
    "expr_breadth": _q_expr_breadth,
    "q22_inactive_customers": _q_q22_inactive_customers,
    "q07_nation_pairs": _q_q07_nation_pairs,
    "agg_rollup": _q_agg_rollup,
    "agg_cube": _q_agg_cube,
    "agg_grouping_sets": _q_agg_grouping_sets,
    "agg_pivot": _q_agg_pivot,
    "agg_unpivot": _q_agg_unpivot,
    "q02_min_cost_supplier": _q_q02_min_cost_supplier,
    "q04_priority_exists": _q_q04_priority_exists,
    "q05_sql_api": _q_q05_sql_api,
    "q13_order_distribution": _q_q13_order_distribution,
    "q17_small_qty": _q_q17_small_qty,
    "q19_disjunctive": _q_q19_disjunctive,
    "scalar_breadth": _q_scalar_breadth,
    "window_breadth": _q_window_breadth,
    "sql_recursive_hierarchy": _q_sql_recursive_hierarchy,
}

ORACLES = {
    "agg_rollup": """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
               COUNT(1) AS n_rows
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    "agg_grouping_sets": """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
               COUNT(1) AS n_rows
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
    "agg_cube": """
        SELECT o_orderpriority, o_orderstatus,
               COUNT(1) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        FROM orders
        GROUP BY CUBE (o_orderpriority, o_orderstatus)
    """,
    "agg_pivot": """
        SELECT l_returnflag,
               CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS qty_open,
               CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS qty_finished
        FROM lineitem GROUP BY l_returnflag
    """,
    "q04_priority_exists": """
        SELECT o_orderpriority, COUNT(1) AS n_orders
        FROM orders
        WHERE EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        GROUP BY o_orderpriority
    """,
    "q17_small_qty": """
        WITH per_part AS (
            SELECT l_partkey,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(1) AS avg_qty
            FROM lineitem GROUP BY l_partkey
        )
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price,
               COUNT(1) AS n_small
        FROM lineitem JOIN per_part USING (l_partkey)
        WHERE l_quantity < 0.5 * avg_qty
    """,
    "agg_unpivot": """
        WITH wide AS (
            SELECT l_returnflag,
                   CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS qty_open,
                   CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS qty_finished
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag, metric, qty
        FROM wide UNPIVOT (qty FOR metric IN (qty_open, qty_finished))
    """,
    "window_breadth": """
        SELECT o_custkey, o_orderkey,
               lag(o_orderkey, 1, -1) OVER w AS prev_order,
               lead(o_orderkey, 1, -1) OVER w AS next_order,
               CAST(ntile(4) OVER w AS INTEGER) AS quartile,
               percent_rank() OVER w AS pct_rank
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    "q05_sql_api": """
        SELECT n_name,
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
    """,
    "q19_disjunctive": """
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
               COUNT(1) AS n_rows
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#1' AND p_size <= 10 AND l_quantity BETWEEN 1 AND 20)
           OR (p_brand = 'Brand#2' AND p_size <= 20 AND l_quantity BETWEEN 10 AND 30)
           OR (p_brand = 'Brand#3' AND p_size <= 30 AND l_quantity BETWEEN 20 AND 40)
    """,
    "q02_min_cost_supplier": """
        WITH pairs AS (
            SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
        ),
        joined AS (
            SELECT p.l_partkey, p.l_suppkey, s.s_name, s.s_acctbal
            FROM pairs p JOIN supplier s ON p.l_suppkey = s.s_suppkey
        ),
        best AS (SELECT l_partkey, MAX(s_acctbal) AS best_bal FROM joined GROUP BY l_partkey)
        SELECT j.l_partkey, j.l_suppkey AS s_suppkey, j.s_name, j.s_acctbal
        FROM joined j JOIN best USING (l_partkey)
        WHERE j.s_acctbal = best.best_bal
    """,
    "q13_order_distribution": """
        WITH per_cust AS (
            SELECT c_custkey, COUNT(o_orderkey) AS c_count
            FROM customer LEFT OUTER JOIN orders
              ON c_custkey = o_custkey AND year(o_orderdate) = 1996
            GROUP BY c_custkey
        )
        SELECT c_count, COUNT(1) AS custdist
        FROM per_cust GROUP BY c_count
    """,
    "q07_nation_pairs": """
        SELECT n1.n_name AS supp_nation,
               n2.n_name AS cust_nation,
               CAST(year(o_orderdate) AS BIGINT) AS l_year,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_13')
           OR (n1.n_name = 'NATION_13' AND n2.n_name = 'NATION_3')
        GROUP BY n1.n_name, n2.n_name, year(o_orderdate)
    """,
    "q22_inactive_customers": """
        WITH avg_bal AS (
            SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(1) AS avg_bal
            FROM customer WHERE c_acctbal > 0
        )
        SELECT c_nationkey,
               COUNT(1) AS n_customers,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
        FROM customer CROSS JOIN avg_bal
        WHERE c_acctbal > avg_bal
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND year(o_orderdate) = 1996)
        GROUP BY c_nationkey
    """,
    "scalar_breadth": """
        SELECT o_orderkey,
               CAST(year(o_orderdate) AS BIGINT) AS yr,
               CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
               CAST(month(o_orderdate) AS BIGINT) AS mo,
               CAST(datediff('day', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT) AS days_since_epoch_start,
               last_day(o_orderdate) AS month_end,
               upper(o_orderstatus) AS status_u,
               lpad(CAST(o_orderkey AS VARCHAR), 10, '0') AS key_padded,
               translate(o_orderpriority, '-', '_') AS prio_t,
               substr(o_orderpriority, 3, 6) AS prio_word,
               reverse(o_orderstatus) AS status_r,
               CAST(length(o_orderpriority) AS BIGINT) AS prio_len,
               CAST(len(string_split(o_orderpriority, '-')) AS BIGINT) AS prio_parts,
               string_split(o_orderpriority, '-')[1] AS prio_rank
        FROM orders
    """,
    "expr_breadth": """
        SELECT o_custkey, o_orderkey,
               CAST(year(o_orderdate) AS BIGINT) AS yr,
               CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
               CAST(month(o_orderdate) AS BIGINT) AS mo,
               CAST(datediff('day', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT) AS days_since_epoch_start,
               last_day(o_orderdate) AS month_end,
               upper(o_orderstatus) AS status_u,
               lpad(CAST(o_orderkey AS VARCHAR), 10, '0') AS key_padded,
               translate(o_orderpriority, '-', '_') AS prio_t,
               substr(o_orderpriority, 3, 6) AS prio_word,
               CAST(length(o_orderpriority) AS BIGINT) AS prio_len,
               CAST(len(string_split(o_orderpriority, '-')) AS BIGINT) AS prio_parts,
               string_split(o_orderpriority, '-')[1] AS prio_rank,
               lag(o_orderkey, 1, -1) OVER w AS prev_order,
               lead(o_orderkey, 1, -1) OVER w AS next_order,
               CAST(ntile(4) OVER w AS INTEGER) AS quartile,
               percent_rank() OVER w AS pct_rank,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
               o_orderstatus IS NOT DISTINCT FROM 'O' AS is_open_nullsafe,
               NULLIF(o_orderstatus, o_orderstatus)
                 IS NOT DISTINCT FROM NULLIF(o_orderstatus, o_orderstatus) AS null_selfmatch,
               NULLIF(o_orderstatus, o_orderstatus)
                 = NULLIF(o_orderstatus, o_orderstatus) AS plain_eq_is_null
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
}

# DuckDB's integer division is // (DIV in Spark); otherwise the oracle
# restates the identical recursion
ORACLES["sql_recursive_hierarchy"] = """
    WITH RECURSIVE h AS (
        SELECT c_custkey, c_acctbal, 0 AS depth
        FROM customer WHERE c_custkey = 0
        UNION ALL
        SELECT c.c_custkey, c.c_acctbal, h.depth + 1
        FROM customer c JOIN h ON (c.c_custkey - 1) // 2 = h.c_custkey
        WHERE c.c_custkey > 0
    )
    SELECT depth,
           COUNT(1) AS n_nodes,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
    FROM h GROUP BY depth
"""


def _q_scalar_try_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-mode safety surface: the try_* function family. Spark 4
    runs ANSI SQL, where overflow and bad casts are runtime ERRORS —
    the correct default at 100 TB (silent nulls hide data bugs), but
    every pipeline needs the per-expression escape hatch for columns
    KNOWN to be dirty. try_divide / try_add / try_cast return NULL
    exactly where ANSI would abort the job; the oracle pins those
    NULL-vs-value semantics row by row (DuckDB's TRY_CAST matches;
    its overflow/zero-division behaviors are restated as the CASE
    forms since DuckDB errors differently)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.try_divide(F.col("l_extendedprice"), F.col("l_quantity")).alias("unit_price"),
        F.try_divide(F.col("l_extendedprice"), F.lit(0.0)).alias("div_zero"),
        F.try_add(F.lit(9223372036854775807), F.col("l_orderkey") + 1).alias("add_overflow"),
        F.when(F.col("l_returnflag") == "A", F.lit("1"))
        .otherwise(F.lit("x"))
        .try_cast("int")
        .alias("flag_as_int"),
    )


QUERIES["scalar_try_funcs"] = _q_scalar_try_funcs
ORACLES["scalar_try_funcs"] = """
    SELECT l_orderkey, l_linenumber,
           l_extendedprice / l_quantity AS unit_price,
           CAST(NULL AS DOUBLE) AS div_zero,
           CAST(NULL AS BIGINT) AS add_overflow,
           TRY_CAST(CASE WHEN l_returnflag = 'A' THEN '1' ELSE 'x' END AS INT) AS flag_as_int
    FROM lineitem
"""


def _q_sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4.1 `|>`): the same revenue-by-nation
    topology as q05, written as a linear pipeline — scan |> filter
    |> join |> aggregate |> sort. Pins the engine's modern-SQL
    surface: pipe stages lower to the identical Catalyst plan as the
    nested-SELECT form (same joins, same partial/final aggregation),
    so this is a parser-surface contract, not a new execution path.
    Oracle is the equivalent ANSI form — value-identical by
    construction.
    """
    from odoo_batch_processing_spark.sources.loader import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        FROM orders
        |> WHERE o_orderdate >= DATE '1996-01-01'
           AND o_orderdate < DATE '1997-01-01'
        |> JOIN customer ON o_custkey = c_custkey
        |> JOIN nation ON c_nationkey = n_nationkey
        |> JOIN lineitem ON l_orderkey = o_orderkey
        |> AGGREGATE
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                      * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
                 AS revenue,
             COUNT(*) AS n_lines
           GROUP BY n_name
        |> SELECT n_name, revenue, n_lines
        """
    )


QUERIES["sql_pipe_syntax"] = _q_sql_pipe_syntax
ORACLES["sql_pipe_syntax"] = """
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
           COUNT(1) AS n_lines
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
    GROUP BY n_name
"""

