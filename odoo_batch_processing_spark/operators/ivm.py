"""Incremental materialized-view maintenance (IVM) for additive
aggregates.

The reference recomputes its aggregate panel from the visible rows on
every change (`user.js:136-147` re-derives counts after each edit) —
viable for one DOM page, not for a 100 TB fact table. The standard
engine answer: persist the aggregate in its *mergeable* form (count +
sum per group — NOT avg, which doesn't merge) and refresh it by
aggregating ONLY the delta batch and combining state, so a refresh
costs O(|view| + |delta|) instead of O(|base|).

The merge is itself just an aggregate: union the standing state with
the delta's partial state and re-sum. New groups appearing only in
the delta fall out of the union naturally, as do groups the delta
never touches. Derived measures (avg) are computed at read time from
the mergeable pair. The same state layout is what the streaming
``update``-mode aggregation keeps in its state store — this is the
batch twin.

Shuffle profile: the delta aggregate shuffles |delta-groups| rows,
the merge shuffles |view| + |delta-groups| rows — both metadata-scale
next to the base. A retraction (row deletion) is the same merge with
negated count/sum, which is why the state must stay additive.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from odoo_batch_processing_spark.sources.loader import load_table


def additive_state(df: DataFrame, keys: Sequence[str], value_col: str) -> DataFrame:
    """Aggregate ``df`` into mergeable per-group state:
    ``n`` (count) and ``sum_v`` (decimal sum, order-independent)."""
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(value_col).cast("decimal(18,6)")).alias("sum_v"),
    )


def merge_states(standing: DataFrame, delta_state: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Combine two additive states group-wise (union + re-sum).
    Negative counts/sums in ``delta_state`` express retractions."""
    return (
        standing.unionByName(delta_state)
        .groupBy(*keys)
        .agg(F.sum("n").alias("n"), F.sum("sum_v").alias("sum_v"))
    )


def _q_ivm_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Refresh a per-event-type aggregate view from a late delta batch
    without rescanning the base: the standing view is built from the
    90% base slice (event_id % 10 != 0) and persisted to scratch
    parquet (the materialization), then merged with the delta's own
    aggregate. The oracle recomputes from the FULL table — the merge
    must land on the identical groups, counts, sums, and derived
    averages."""
    from odoo_batch_processing_spark.sources.sinks import scratch_dir

    ev = load_table(spark, sf_dir, "events")
    base = ev.filter(F.col("event_id") % 10 != 0)
    delta = ev.filter(F.col("event_id") % 10 == 0)

    view_dir = scratch_dir("ivm-view")
    additive_state(base, ["event_type"], "value").write.mode("overwrite").parquet(
        view_dir
    )
    standing = spark.read.parquet(view_dir)

    refreshed = merge_states(
        standing, additive_state(delta, ["event_type"], "value"), ["event_type"]
    )
    return refreshed.select(
        "event_type",
        "n",
        F.col("sum_v").cast("double").alias("sum_value"),
        # derived at read time from the mergeable pair; NULL-safe when
        # a group's values are all NULL (sum_v NULL / n>0). Divide in
        # DOUBLE: decimal/bigint division picks engine-specific result
        # scales (measured 4.5e-7 divergence vs DuckDB), while double
        # division of the identical exact sum is bit-stable.
        (F.col("sum_v").cast("double") / F.col("n")).alias("avg_value"),
    )


QUERIES = {"ivm_refresh": _q_ivm_refresh}

ORACLES = {
    "ivm_refresh": """
        SELECT event_type,
               COUNT(1) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(1) AS avg_value
        FROM events GROUP BY event_type
    """,
}
