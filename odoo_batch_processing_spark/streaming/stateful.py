"""Per-key streaming state: running totals and event transitions.

The reference's only state is run-scoped (success/error counters and
the cancel flag, Odoo-Batch-Processing.user.js:400, 443-444) — driver
state, reproduced in streaming/throttle.py. This module adds the
genuinely distributed form: per-KEY state that lives in the state
store, survives across micro-batches, and scales horizontally — the
operator a 100 TB event pipeline needs for running counters/feature
accumulation.

Running totals (count, min, max) are commutative, so the core form is
Spark's built-in streaming aggregate: the state store holds the
partial aggregates and the whole plan stays in the JVM. The
arbitrary-state API keeps the one operator a built-in aggregate cannot
express: ``transitions_stream`` (order-sensitive, on
``applyInPandasWithState``).

The state store shuffles by key, so the operator's scale behavior is
the same hash-shuffle story as a groupBy — skewed keys want salting
upstream (SCALE.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def running_totals(stream_df: DataFrame) -> DataFrame:
    """(user_id, running count, id range) emitted each micro-batch the
    key appears in (update mode): a built-in stateful aggregate whose
    partial count/min/max live in the state store; integer-only
    outputs so results are deterministic regardless of within-batch
    arrival order."""
    return stream_df.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("event_id").alias("min_event_id"),
        F.max("event_id").alias("max_event_id"),
    )


TRANS_OUT_SCHEMA = "from_type string, to_type string"
TRANS_STATE_SCHEMA = "last_type string"


def _update_transitions(key, pdfs, state: GroupState):
    import pandas as pd

    prev = state.get[0] if state.exists else None
    frames = [pdf for pdf in pdfs]
    rows = (
        pd.concat(frames, ignore_index=True)
        .sort_values(["ts", "event_id"], kind="mergesort")
        if frames
        else pd.DataFrame(columns=["ts", "event_id", "event_type"])
    )
    out_from: list[str] = []
    out_to: list[str] = []
    for cur in rows["event_type"]:
        if prev is not None:
            out_from.append(prev)
            out_to.append(cur)
        prev = cur
    if prev is not None:
        state.update((prev,))
    yield pd.DataFrame({"from_type": out_from, "to_type": out_to})


def transitions_stream(stream_df: DataFrame) -> DataFrame:
    """Order-SENSITIVE cross-batch state: per-user (from → to) event
    transitions, the streaming twin of the batch lead-window transition
    matrix (operators/windows._q_event_transitions).

    Unlike running totals (commutative — any batch order sums the
    same), a transition pairs each event with its SUCCESSOR, so state
    carries the user's last event type ACROSS micro-batches and the
    operator is only exact when batches arrive in event-time order.
    The catalog query stages the source time-sliced
    (range-partitioned on (ts, event_id), one file per trigger) to
    guarantee that; within a batch the group's rows are sorted on the
    same key (stable mergesort), so boundary ties cannot flip the
    successor. That is the real contract of order-sensitive streaming
    state — and why the query can sit under the SAME exact oracle as
    the batch operator instead of a rows-only check.
    """
    return (
        stream_df.select("user_id", "ts", "event_id", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_transitions,
            TRANS_OUT_SCHEMA,
            TRANS_STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )
