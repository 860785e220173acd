"""Slowly-changing-dimension (SCD Type 2) history build and
point-in-time joins.

The reference mutates rows in place and keeps no history — its write
protocol overwrites the cell and moves on (`user.js:520-560`, the
`write`/`save` RPC pair). A 100 TB lakehouse cannot do that: the
standard answer is an append-only change log compacted into a Type-2
dimension (one row per *state interval*, ``valid_from``/``valid_to``)
plus an as-of join to attach the state in effect at each fact's
timestamp. Both are pure DataFrame compositions:

**SCD2 build** — three steps, ONE shuffle total:

1. collapse simultaneous changes: per (key, ts) keep the attribute of
   the highest change id (``max_by`` — the state at the *end* of that
   instant), so downstream windows never see ties;
2. change-point detection: ``lag`` over (key → ts); keep rows where
   the tracked attribute differs from the previous state
   (gaps-and-islands compression — consecutive no-op changes collapse
   into one interval);
3. interval close-out: ``lead`` gives ``valid_to`` (NULL = current
   row), ``row_number`` gives the version ordinal.

All three windows share the same partitioning (the key) and ordering
(ts), so Catalyst plans a single Exchange + one sort and pipelines
the window functions — `tests/test_scd.py::test_scd2_single_shuffle`
pins that. At 1000 executors the history build shuffles each user's
change stream to one task; no global sort, no skew beyond the hottest
single key.

**Point-in-time join** — the generalized as-of carry: facts and
dimension change rows are unioned, and ``last(struct(attrs),
ignorenulls)`` over (key → ts, dimension-first) carries the full
attribute struct forward onto each fact row. Same single-shuffle
shape as :func:`operators.asof.asof_join`, but carrying arbitrary
columns instead of just the timestamp; equivalent to (and
oracle-checked against) DuckDB's native ``ASOF JOIN`` selecting
dimension attributes. Versus the interval equi-join
(join on key + ``BETWEEN valid_from AND valid_to``) this never
multiplies rows by history length and needs no post-filter.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from odoo_batch_processing_spark.sources.loader import load_table


def scd2_build(
    changes: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    attr_col: str,
    change_id: str,
) -> DataFrame:
    """Compact an append-only change log into SCD Type-2 intervals.

    Returns one row per state interval: ``keys…, <attr_col>,
    valid_from, valid_to (NULL = open), version, is_current``.
    ``change_id`` breaks same-timestamp ties deterministically (the
    highest id at an instant wins — last writer at that instant).

    tie-order: unique-key — the window's (keys…, valid_from) order key
    is unique per partition by construction: the preceding groupBy
    collapses each (keys, valid_from) instant to one max_by row, so
    lag/lead/row_number see no ties.
    """
    # One shuffle for the whole build: partition by the key FIRST.
    # hashpartitioning(keys) satisfies the (keys, ts) clustering the
    # max_by aggregate needs AND the (keys) clustering the windows
    # need, so Catalyst inserts no further Exchange (pinned by
    # tests/test_scd.py::test_scd2_single_shuffle).
    instant = (
        changes.repartition(*[F.col(k) for k in keys])
        .groupBy(*keys, F.col(ts_col).alias("valid_from"))
        .agg(F.max_by(attr_col, change_id).alias(attr_col))
    )
    w_order = Window.partitionBy(*keys).orderBy("valid_from")
    prev = F.lag(attr_col).over(w_order)
    change_points = (
        instant.withColumn("__prev", prev)
        .filter(F.col("__prev").isNull() | (F.col(attr_col) != F.col("__prev")))
        .drop("__prev")
    )
    return change_points.select(
        *keys,
        attr_col,
        "valid_from",
        F.lead("valid_from").over(w_order).alias("valid_to"),
        F.row_number().over(w_order).alias("version"),
        F.lead("valid_from").over(w_order).isNull().alias("is_current"),
    )


def asof_join_carry(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str,
    right_ts: str,
    carry: Sequence[str],
) -> DataFrame:
    """LEFT as-of join carrying ``carry`` columns from the latest
    right row with ``right_ts`` ≤ the left row's ``left_ts`` (NULLs
    when no such row). ``right`` must have at most one row per
    (keys, right_ts) — :func:`scd2_build` output qualifies.

    Union-and-window: one shuffle on ``keys``, no inequality join, no
    row multiplication by history length."""
    # backtick-quote EVERY caller-supplied name (keys, timestamps,
    # carry, and the pass-through left columns): a bare string in
    # select()/col()/partitionBy() parses dots as struct-field paths
    # (ADVICE r11/r12 hazard class)
    def _q(name: str):
        return F.col("`" + name.replace("`", "``") + "`")

    r = right.select(
        *[_q(k).alias(k) for k in keys],
        _q(right_ts).alias("__ts"),
        F.struct(*[_q(c).alias(c) for c in carry]).alias("__carry"),
        F.lit(1).alias("__is_dim"),
    )
    l = left.withColumn("__ts", _q(left_ts)).withColumn("__is_dim", F.lit(0))
    merged = l.unionByName(r, allowMissingColumns=True)
    # dimension rows sort BEFORE facts at equal ts → inclusive (≤) as-of
    w = (
        Window.partitionBy(*[_q(k) for k in keys])
        .orderBy(F.col("__ts"), F.col("__is_dim").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = merged.withColumn(
        "__c",
        F.last(F.when(F.col("__is_dim") == 1, F.col("__carry")), ignorenulls=True).over(w),
    ).filter(F.col("__is_dim") == 0)
    # Column[str] is getField with a literal name — survives dotted
    # carry-column names, unlike a parsed "__c.name" path (the same
    # hazard class ADVICE r11 flagged in deterministic_dedup)
    out = carried.select(
        *[_q(c).alias(c) for c in left.columns],
        *[F.col("__c")[c].alias(c) for c in carry],
    )
    return out


def _tier():
    """value → engagement tier; total (NULL-covering), so the tracked
    attribute is never NULL and plain <> detects changes. A function,
    not a module constant: building a Column requires a live
    SparkContext, and this module must import session-free (the
    registry collects catalogs before any session exists)."""
    return (
        F.when(F.col("value").isNull(), F.lit("none"))
        .when(F.col("value") < 10.0, F.lit("low"))
        .when(F.col("value") < 100.0, F.lit("mid"))
        .otherwise(F.lit("high"))
    )

_TIER_SQL = """CASE WHEN value IS NULL THEN 'none'
                    WHEN value < 10.0 THEN 'low'
                    WHEN value < 100.0 THEN 'mid'
                    ELSE 'high' END"""


def _tiered_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select("user_id", "ts", "event_id", _tier().alias("tier"))


def _q_scd2_user_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 history of each user's engagement tier from the event
    change log (semantic anchor: the reference's overwrite-in-place
    write path, `user.js:520-560` — this is what it should keep)."""
    return scd2_build(
        _tiered_events(spark, sf_dir),
        keys=["user_id"],
        ts_col="ts",
        attr_col="tier",
        change_id="event_id",
    )


def _q_pit_tier_at_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase event with the user's tier in effect at that
    instant — the point-in-time (as-of) join against the SCD2 history."""
    history = _q_scd2_user_tiers(spark, sf_dir)
    purchases = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    return asof_join_carry(
        purchases.select("event_id", "user_id", "ts"),
        history,
        keys=["user_id"],
        left_ts="ts",
        right_ts="valid_from",
        carry=["tier", "version"],
    ).select(
        "event_id",
        F.col("tier").alias("tier_at_purchase"),
        F.col("version").alias("tier_version"),
    )


_SCD2_ORACLE = f"""
    WITH st AS (
        SELECT user_id, ts AS valid_from,
               max_by({_TIER_SQL}, event_id) AS tier
        FROM events GROUP BY user_id, ts
    ), chg AS (
        SELECT user_id, tier, valid_from,
               lag(tier) OVER (PARTITION BY user_id ORDER BY valid_from) AS prev
        FROM st
    )
    SELECT user_id, tier, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from) AS valid_to,
           CAST(row_number() OVER (PARTITION BY user_id ORDER BY valid_from) AS INTEGER) AS version,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from) IS NULL AS is_current
    FROM chg WHERE prev IS NULL OR tier <> prev
"""


QUERIES = {
    "scd2_user_tiers": _q_scd2_user_tiers,
    "pit_tier_at_purchase": _q_pit_tier_at_purchase,
}

ORACLES = {
    "scd2_user_tiers": _SCD2_ORACLE,
    # DuckDB's native ASOF JOIN (greatest valid_from <= ts, inclusive)
    # against the same recomputed history — valid_from is unique per
    # user by construction, so the as-of pick is unambiguous.
    "pit_tier_at_purchase": f"""
        WITH hist AS ({_SCD2_ORACLE})
        SELECT e.event_id, h.tier AS tier_at_purchase,
               h.version AS tier_version
        FROM (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'purchase') e
        ASOF LEFT JOIN hist h
          ON e.user_id = h.user_id AND e.ts >= h.valid_from
    """,
}
