"""As-of and range joins — operators Spark lacks natively.

The reference has no temporal joins at all (its only join is the
positional zip, SURVEY.md §2.2); these are the time-series operators a
training-data/event pipeline needs, built as compositions of existing
DataFrame ops per the engine's preference order (built-ins first,
Pandas UDF only if semantics demand — here they don't).

**As-of join** (each left row ⟵ the latest right row with
right.ts ≤ left.ts, per key): implemented as the union-and-window
plan — tag both sides, sort within key by (ts, right-first), and carry
the last seen right timestamp forward with last_value(ignorenulls).
One shuffle (the window partitionBy), no inequality join, no
per-group Python. This matches DuckDB's native ASOF JOIN semantics
(inclusive ≥), which is exactly what the oracle uses.

**Range join** (pair rows whose timestamps fall within a window):
naive inequality joins become BroadcastNestedLoop (O(n·m)) in Spark;
the bucketized form maps each right row to its time bucket, explodes
each left row to the buckets its window overlaps, equi-joins on
(key, bucket), and re-filters the exact predicate. Shuffle is on
(key, bucket) — linear, skew-safe, the standard scale pattern.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from odoo_batch_processing_spark.sources.loader import load_table


def asof_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    out_col: str = "asof_ts",
) -> DataFrame:
    """LEFT as-of: every left row, plus the greatest right ``right_ts``
    ≤ the row's ``left_ts`` within the same key (NULL when none).

    The right side is reduced to distinct (keys, ts) first, so the
    carried value is the timestamp itself and tie-breaking is moot.
    """
    quotes = (
        right.select(*keys, F.col(right_ts).alias("__ts"))
        .distinct()
        .withColumn("__is_q", F.lit(1))
    )
    ticks = left.withColumn("__ts", F.col(left_ts)).withColumn("__is_q", F.lit(0))
    merged = ticks.unionByName(quotes, allowMissingColumns=True)
    # right rows sort BEFORE left rows at equal ts → inclusive (≤) as-of
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__ts"), F.col("__is_q").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = merged.withColumn(
        out_col,
        F.last(F.when(F.col("__is_q") == 1, F.col("__ts")), ignorenulls=True).over(w),
    )
    return carried.filter(F.col("__is_q") == 0).drop("__ts", "__is_q")


def range_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str,
    right_ts: str,
    window_seconds: int,
) -> DataFrame:
    """Pairs (left, right) with same keys and
    left_ts ≤ right_ts < left_ts + window_seconds, via time-bucket
    equi-join (linear shuffle) + exact re-filter."""
    w = F.lit(window_seconds)
    r_bucket = F.floor(F.col(right_ts).cast("long") / w)
    l_bucket0 = F.floor(F.col(left_ts).cast("long") / w)
    r = right.withColumn("__bucket", r_bucket)
    # a [t, t+w) window overlaps exactly buckets floor(t/w) and floor(t/w)+1
    l = left.withColumn(
        "__bucket", F.explode(F.array(l_bucket0, l_bucket0 + 1))
    )
    cond = (F.col(right_ts) >= F.col(left_ts)) & (
        F.col(right_ts) < (F.col(left_ts) + F.make_dt_interval(secs=w))
    )
    return l.join(r, [*keys, "__bucket"]).filter(cond).drop("__bucket")


def _q_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every event: the user's most recent purchase at-or-before it."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    return asof_join(
        ev.select("event_id", "user_id", "ts"),
        purchases,
        keys=["user_id"],
        out_col="last_purchase_ts",
    ).select("event_id", "last_purchase_ts")


def _q_range_join_follows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events-within-30-minutes-after-a-purchase, per user (count per
    purchase): the bucketized range join, aggregated to keep the result
    compact."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts")
    )
    others = ev.filter(F.col("event_type") != "purchase").select(
        "user_id", F.col("event_id").alias("follow_id"), F.col("ts").alias("f_ts")
    )
    pairs = range_join_bucketed(
        purchases, others, ["user_id"], "p_ts", "f_ts", window_seconds=1800
    )
    return pairs.groupBy("purchase_id").agg(
        F.count(F.lit(1)).alias("n_follows"),
        F.min("follow_id").alias("first_follow_id"),
    )


QUERIES = {
    "asof_last_purchase": _q_asof_last_purchase,
    "range_join_follows": _q_range_join_follows,
}

ORACLES = {
    # DuckDB's native ASOF JOIN — inclusive >=, same as the window plan
    "asof_last_purchase": """
        WITH q AS (SELECT DISTINCT user_id, ts FROM events WHERE event_type = 'purchase'),
             t AS (SELECT event_id, user_id, ts FROM events)
        SELECT t.event_id, q.ts AS last_purchase_ts
        FROM t ASOF LEFT JOIN q ON t.user_id = q.user_id AND t.ts >= q.ts
    """,
    "range_join_follows": """
        WITH p AS (SELECT user_id, event_id AS purchase_id, ts AS p_ts
                   FROM events WHERE event_type = 'purchase'),
             o AS (SELECT user_id, event_id AS follow_id, ts AS f_ts
                   FROM events WHERE event_type <> 'purchase')
        SELECT purchase_id,
               COUNT(1) AS n_follows,
               MIN(follow_id) AS first_follow_id
        FROM p JOIN o ON p.user_id = o.user_id
                     AND o.f_ts >= p.p_ts
                     AND o.f_ts < p.p_ts + INTERVAL '30 minutes'
        GROUP BY purchase_id
    """,
}
