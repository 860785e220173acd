"""Skew-safe aggregation: two-phase salted groupBy.

At 100 TB a single hot key (one viral document source, one mega
customer) turns a groupBy into one straggler task. The standard fix:
salt the key with a random-ish shard, partially aggregate on
(key, salt) — hot keys now spread over ``n_salts`` tasks — then merge
the partials on the bare key. Twice the shuffles, each skew-free; the
result is IDENTICAL to the plain groupBy, which is exactly what the
oracle asserts (the plain SQL GROUP BY).

The salt must be deterministic-per-row but uniform — derived from a
row hash, NOT rand() (rand breaks retry idempotence: a retried task
would re-salt differently and double-count).

AQE's skew-join handling covers JOIN skew automatically
(session.RUNTIME_CONFS); aggregation skew needs this explicit shape
because partial aggregation alone can't help when the hot key's rows
overwhelm even one map task's hash table.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from odoo_batch_processing_spark.sources.loader import load_table


def salted_sum_count(
    df: DataFrame,
    keys: Sequence[str],
    value: Column,
    n_salts: int = 16,
    salt_on: Column | None = None,
) -> DataFrame:
    """SUM(value), COUNT(*) per key, shuffled in two skew-free phases.

    ``value`` must be an exact (decimal/int) expression — the two-phase
    regrouping reorders additions, which only decimal/integer sums can
    absorb without changing the result.

    Default salt (no ``salt_on``): xxhash64 over the FULL ROW — a pure
    function of row content, so a retried task re-salts identically.
    Round 6 replaced the old ``monotonically_increasing_id`` default,
    which is partition-layout-dependent: shuffling on it is the classic
    repartition-nondeterminism hazard (a map-task retry under a
    changed layout can double-count or drop rows downstream) — the
    same class of bug as the round-6 ordinal fix, removed at the
    default rather than documented around. Identical duplicate rows
    share a salt; only pathological mass-duplicate keys reduce the
    spread.
    """
    salt = F.pmod(
        F.xxhash64(
            *( [salt_on] if salt_on is not None else [F.col(c) for c in df.columns] )
        ),
        F.lit(n_salts),
    )
    partial = (
        df.withColumn("__salt", salt)
        .groupBy(*keys, "__salt")
        .agg(F.sum(value).alias("__psum"), F.count(F.lit(1)).alias("__pcnt"))
    )
    return partial.groupBy(*keys).agg(
        F.sum("__psum").alias("sum_value"),
        F.sum("__pcnt").alias("n_rows"),
    )


def _q_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per returnflag via the salted two-phase plan; oracle is
    the PLAIN group-by — proving the rewrite is result-identical."""
    from odoo_batch_processing_spark.functions.exprs import revenue

    li = load_table(spark, sf_dir, "lineitem")
    out = salted_sum_count(
        li,
        ["l_returnflag"],
        revenue(),
        salt_on=F.col("l_orderkey") * 7 + F.col("l_linenumber"),
    )
    return out.select(
        "l_returnflag", F.col("sum_value").cast("double").alias("revenue"), "n_rows"
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    n_salts: int = 8,
    salt_on: Column | None = None,
) -> DataFrame:
    """Inner equi-join where the FACT side is skewed on ``key`` and the
    dim side is too big (or the join too deep) for a plain broadcast:
    each fact row gets a deterministic salt, the dim side is replicated
    across all ``n_salts`` shards, and the equi-join runs on
    (key, salt) — a hot key's rows now spread over ``n_salts`` tasks
    instead of one straggler.

    Cost: the dim side shuffles ``n_salts``× its size; pick
    ``n_salts`` ≈ hot-key rows / healthy-task rows. Result is
    row-identical to the plain join (the oracle's form). AQE's skew
    split (session.RUNTIME_CONFS) handles most sort-merge cases at
    runtime; this explicit shape is for when the skewed join feeds a
    same-key aggregation or the optimizer can't see the skew (e.g.
    post-filter hot keys). The salt must be deterministic per row
    (``salt_on`` a unique column), never rand() — retried tasks must
    re-salt identically. Default: xxhash64 over the full fact row
    (see salted_sum_count — the monotonically_increasing_id default
    was itself the retry hazard the sentence above warns about).
    """
    salt = F.pmod(
        F.xxhash64(
            *( [salt_on] if salt_on is not None else [F.col(c) for c in fact.columns] )
        ),
        F.lit(n_salts),
    )
    fact_s = fact.withColumn("__salt", salt)
    dim_s = dim.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i).cast("bigint") for i in range(n_salts)]))
    )
    return fact_s.join(dim_s, [key, "__salt"]).drop("__salt")


def _q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity by brand through the salted-replicated join; the oracle
    is the PLAIN lineitem ⋈ part aggregate — the rewrite must be
    result-identical."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_orderkey", "l_linenumber", "l_quantity"
    )
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    joined = salted_join(
        li,
        part,
        "l_partkey",
        n_salts=8,
        salt_on=F.col("l_orderkey") * 7 + F.col("l_linenumber"),
    )
    return joined.groupBy("p_brand").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


QUERIES = {
    "skew_salted_agg": _q_skew_salted_agg,
    "skew_salted_join": _q_skew_salted_join,
}

ORACLES = {
    "skew_salted_agg": """
        SELECT l_returnflag,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
               COUNT(1) AS n_rows
        FROM lineitem GROUP BY l_returnflag
    """,
    "skew_salted_join": """
        SELECT p_brand,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               COUNT(1) AS n_rows
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand
    """,
}
