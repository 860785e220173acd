"""Checkpoint-restart state recovery — the fault-tolerance property a
1000-executor streaming deployment actually leans on.

The exactly-once story so far certifies the SINK side (the
s_merge_upsert epoch ledger replays a committed batch and proves the
guard, tests/test_sinks.py) — these tests certify the STATE side: a
query stopped mid-stream and restarted from its checkpoint must
recover its operator state (dedup seen-keys, join buffers, windowed
aggregation partials) exactly, not just resume reading files.

Witness discipline (SURVEY §7.5 rule 6, applied to recovery): each
test plants data whose correct handling is ONLY possible via recovered
state — a duplicate whose first copy arrived before the stop, a join
match whose left row arrived before the stop, a window whose rows all
arrived before the stop — and pairs the assertion with a state-loss
CONTROL (a fresh checkpoint seeing only the post-restart files) that
demonstrably produces the wrong answer. If Spark ever silently lost or
skipped state recovery, the main assertions fail; if the planted data
stopped exercising state, the controls fail.

All phases are deterministic: files are staged, drained with
``processAllAvailable()``, and the query stopped — no sleeps, no
timing races. The file sink + checkpoint pair is the exactly-once
combination (the sink's own commit log dedups replayed batches), so
output parquet is directly comparable.

Reference analog: the userscript holds all progress state in page-JS
(Odoo-Batch-Processing.user.js:124-199) and a reload loses it — crash
recovery is exactly the capability the Spark restatement adds.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from odoo_batch_processing_spark.streaming.queries import STATE_STORE_PROVIDERS


# both providers the engine targets: HDFS-backed is the local/test
# default; RocksDB is the 100 TB production provider (state spills to
# disk, changelog checkpointing — SCALE.md). Running every recovery
# scenario under BOTH certifies the streaming family is
# provider-portable: no query logic leans on HDFSBackedStateStore
# semantics, and restart recovery holds under RocksDB's
# snapshot+changelog reconstruction too.
@pytest.fixture(params=sorted(STATE_STORE_PROVIDERS))
def state_provider(request, spark):
    """Pin the state-store provider for the duration of one test; the
    provider choice is baked into each query's checkpoint at start, so
    both phases of a restart scenario see the same provider."""
    key = "spark.sql.streaming.stateStore.providerClass"
    try:
        old = spark.conf.get(key)
    except Exception:
        old = None
    spark.conf.set(key, STATE_STORE_PROVIDERS[request.param])
    yield request.param
    if old is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, old)


EVENTS_DDL = (
    "event_id bigint, ts bigint, user_id bigint, "
    "event_type string, value double, props string"
)


def _ns(minutes: int) -> int:
    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    return int((base + dt.timedelta(minutes=minutes)).timestamp() * 1_000_000_000)


def _write_events_file(spark, path: str, rows):
    spark.createDataFrame(rows, EVENTS_DDL).coalesce(1).write.mode("append").parquet(path)


def _drain(q):
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def _read_ids(spark, out: str, col: str = "event_id") -> set:
    return {r[col] for r in spark.read.parquet(out).collect()}


# ---------------------------------------------------------------------------
# 1. dropDuplicatesWithinWatermark seen-keys state
# ---------------------------------------------------------------------------
def _start_dedup(spark, src: str, ckpt: str, out: str):
    """The s_x2_stream_dedup_wm shape (streaming/queries.py) over a
    file sink: watermarked streaming dedup, append mode."""
    from odoo_batch_processing_spark.streaming.sources import change_source

    return (
        change_source(spark, src, max_files_per_trigger=1)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )


def test_dedup_state_survives_checkpoint_restart(spark, tmp_path, state_provider):
    src, ckpt, out = (str(tmp_path / d) for d in ("src", "ckpt", "out"))

    # phase 1: events 1,2,3 — stop after the batch commits
    _write_events_file(
        spark, src, [(i, _ns(5 * i), 1, "click", 1.0, "{}") for i in (1, 2, 3)]
    )
    _drain(_start_dedup(spark, src, ckpt, out))

    # phase 2: a DUPLICATE of event 2 (inside the 1 h dedup window of
    # its first copy) plus a new event 4, processed by a RESTARTED
    # query from the same checkpoint
    _write_events_file(
        spark, src,
        [(2, _ns(15), 1, "click", 1.0, "{}"), (4, _ns(20), 1, "click", 1.0, "{}")],
    )
    _drain(_start_dedup(spark, src, ckpt, out))

    # the duplicate is suppressible ONLY via the recovered seen-keys
    # state — each id exactly once
    assert _read_ids(spark, out) == {1, 2, 3, 4}
    assert spark.read.parquet(out).count() == 4

    # state-loss control: a fresh checkpoint that never saw phase 1
    # emits the duplicate — proving the assertion above is load-bearing
    src2, ckpt2, out2 = (str(tmp_path / d) for d in ("src2", "ckpt2", "out2"))
    _write_events_file(
        spark, src2,
        [(2, _ns(15), 1, "click", 1.0, "{}"), (4, _ns(20), 1, "click", 1.0, "{}")],
    )
    _drain(_start_dedup(spark, src2, ckpt2, out2))
    assert 2 in _read_ids(spark, out2)


# ---------------------------------------------------------------------------
# 2. stream-stream join buffered-row state
# ---------------------------------------------------------------------------
def _start_join(spark, src: str, ckpt: str, out: str):
    """The s_stream_stream_join shape (streaming/queries.py:417):
    purchases ⋈ follow-ups of the same user within 30 minutes, both
    sides watermarked, over a file sink."""
    from odoo_batch_processing_spark.streaming.sources import change_source

    purchases = (
        change_source(spark, src, max_files_per_trigger=1)
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "10 minutes")
    )
    others = (
        change_source(spark, src, max_files_per_trigger=1)
        .filter(F.col("event_type") != "purchase")
        .select(
            "user_id", F.col("event_id").alias("follow_id"), F.col("ts").alias("f_ts")
        )
        .withWatermark("f_ts", "10 minutes")
    )
    joined = purchases.join(
        others,
        (purchases.user_id == others.user_id)
        & (F.col("f_ts") >= F.col("p_ts"))
        & (F.col("f_ts") < F.col("p_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select("purchase_id", "follow_id")
    return (
        joined.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )


def test_join_state_survives_checkpoint_restart(spark, tmp_path, state_provider):
    src, ckpt, out = (str(tmp_path / d) for d in ("src", "ckpt", "out"))

    # phase 1: a purchase with no follow-up yet — buffered in join state
    _write_events_file(spark, src, [(100, _ns(0), 1, "purchase", 9.0, "{}")])
    _drain(_start_join(spark, src, ckpt, out))
    assert spark.read.parquet(out).count() == 0  # nothing matched yet

    # phase 2: the matching follow-up arrives AFTER the restart — the
    # match can only emit from the recovered left-side buffer
    _write_events_file(spark, src, [(200, _ns(5), 1, "click", 1.0, "{}")])
    _drain(_start_join(spark, src, ckpt, out))
    rows = {(r.purchase_id, r.follow_id) for r in spark.read.parquet(out).collect()}
    assert rows == {(100, 200)}

    # state-loss control: only the follow-up, fresh checkpoint → no match
    src2, ckpt2, out2 = (str(tmp_path / d) for d in ("src2", "ckpt2", "out2"))
    _write_events_file(spark, src2, [(200, _ns(5), 1, "click", 1.0, "{}")])
    _drain(_start_join(spark, src2, ckpt2, out2))
    assert spark.read.parquet(out2).count() == 0


# ---------------------------------------------------------------------------
# 1b. manifest spool × stateful recovery
# ---------------------------------------------------------------------------
def _manifest_file(spark, tmp_path, name: str, rows) -> str:
    """One parquet file (raw-int64-nanos ts staging contract — the
    spool stream's ns→µs normalization is exercised in-stream)."""
    import glob as _glob

    d = str(tmp_path / name)
    _write_events_file(spark, d, rows)
    (part,) = _glob.glob(os.path.join(d, "part-*.parquet"))
    return part


def _run_totals_over_manifest(spark, manifest: str, spool: str, ckpt: str, out: str):
    """Drain running_totals (the s_stateful_totals shape) over the
    manifest spool, one ``pump(1)`` per trigger, pump cursor INSIDE
    the query's checkpoint dir; returns (max n_events per user, total
    source rows ingested this run). Sink is foreachBatch→parquet-
    append: the memory sink refuses checkpoint recovery, and
    foreachBatch is the recoverable shape for update-mode stateful
    output."""
    from odoo_batch_processing_spark.sources.manifest import manifest_file_stream
    from odoo_batch_processing_spark.streaming.stateful import running_totals

    src, pump = manifest_file_stream(
        spark,
        manifest,
        spool,
        max_files_per_trigger=1,
        cursor=os.path.join(ckpt, "manifest.cursor"),
    )

    def _append(batch_df, _bid):
        batch_df.write.mode("append").parquet(out)

    q = (
        running_totals(src)
        .writeStream.outputMode("update")
        .foreachBatch(_append)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        while pump.pump(1):
            q.processAllAvailable()
        ingested = sum(int(p.get("numInputRows", 0)) for p in q.recentProgress)
    finally:
        q.stop()
    totals = {}
    if os.path.exists(out):
        for r in spark.read.parquet(out).collect():
            cur = totals.get(r.user_id)
            if cur is None or r.n_events > cur[0]:
                totals[r.user_id] = (r.n_events, r.min_event_id, r.max_event_id)
    return totals, ingested


def test_manifest_source_composes_with_stateful_recovery(
    spark, tmp_path, state_provider
):
    """The two restart protocols TOGETHER (VERDICT r13 #2: each was
    only certified alone): a stateful query over the manifest spool
    with the pump's durable cursor inside the query's checkpoint dir,
    killed and restarted across a planted cross-restart witness.
    Exactly-once is asserted on BOTH sides: ingest (phase 2 reads only
    the appended file's rows — receipt: numInputRows — and the cursor
    lands on the manifest's byte size) and state (user 1's totals span
    both phases:
    n=5 with min_event_id=1 is reachable only via recovered store
    state, since phase 2's input never contained event 1)."""
    f1 = _manifest_file(
        spark, tmp_path, "f1",
        [(1, _ns(0), 1, "click", 1.0, "{}"), (2, _ns(5), 1, "click", 1.0, "{}")],
    )
    f2 = _manifest_file(
        spark, tmp_path, "f2",
        [(3, _ns(10), 1, "click", 1.0, "{}"), (10, _ns(12), 2, "click", 1.0, "{}")],
    )
    f3 = _manifest_file(
        spark, tmp_path, "f3",
        [
            (4, _ns(20), 1, "click", 1.0, "{}"),
            (5, _ns(25), 1, "click", 1.0, "{}"),
            (11, _ns(30), 2, "click", 1.0, "{}"),
        ],
    )
    manifest = str(tmp_path / "manifest.txt")
    ckpt = str(tmp_path / "ckpt")
    spool = str(tmp_path / "spool")
    cursor = os.path.join(ckpt, "manifest.cursor")
    with open(manifest, "w") as fh:
        fh.write(f1 + "\n" + f2 + "\n")

    # phase 1: drain f1+f2, every batch committed, then stop (crash)
    totals1, ingested1 = _run_totals_over_manifest(
        spark, manifest, spool, ckpt, str(tmp_path / "out")
    )
    assert ingested1 == 4
    assert totals1[1] == (3, 1, 3) and totals1[2] == (1, 10, 10)
    # ingest receipt: the pump writes its cursor as it links, so a
    # drained run leaves it at the manifest's byte size
    size_p1 = os.path.getsize(manifest)
    assert int(open(cursor).read()) == size_p1

    # queue behavior: f3 appended while the query is down
    with open(manifest, "a") as fh:
        fh.write(f3 + "\n")

    # phase 2: FRESH pump + engine, same checkpoint (cursor inside it)
    totals2, ingested2 = _run_totals_over_manifest(
        spark, manifest, spool, ckpt, str(tmp_path / "out")
    )
    # ingest side: only f3's rows entered the stream — no re-read
    # (state-loss + re-ingest would also produce n=5, but with
    # ingested2 == 7), no skip (n would stay 2)
    assert ingested2 == 3
    # state side: totals span both phases; min_event_id=1 can only
    # come from the recovered state store
    assert totals2[1] == (5, 1, 5)
    assert totals2[2] == (2, 10, 11)
    # the restarted pump resumed from the cursor and drained the rest
    assert int(open(cursor).read()) == os.path.getsize(manifest)

    # state-loss control: fresh checkpoint + fresh cursor over a
    # manifest naming only f3 → phase-1 history absent
    man2 = str(tmp_path / "manifest2.txt")
    with open(man2, "w") as fh:
        fh.write(f3 + "\n")
    totals_c, ingested_c = _run_totals_over_manifest(
        spark,
        man2,
        str(tmp_path / "spool2"),
        str(tmp_path / "ckpt2"),
        str(tmp_path / "out_ctl"),
    )
    assert ingested_c == 3
    assert totals_c[1] == (2, 4, 5)


# ---------------------------------------------------------------------------
# 3. windowed aggregation partial-count state
# ---------------------------------------------------------------------------
def _start_hourly(spark, src: str, ckpt: str, out: str):
    """The s_x7_stream_hourly shape via streaming.windowed.hourly_counts,
    append mode (windows emit when the watermark closes them)."""
    from odoo_batch_processing_spark.streaming.sources import change_source
    from odoo_batch_processing_spark.streaming.windowed import hourly_counts

    return (
        hourly_counts(
            change_source(spark, src, max_files_per_trigger=1),
            watermark="10 minutes",
        )
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )


def test_windowed_agg_state_survives_checkpoint_restart(spark, tmp_path, state_provider):
    src, ckpt, out = (str(tmp_path / d) for d in ("src", "ckpt", "out"))

    # phase 1: two hour-0 events — the window stays OPEN (watermark at
    # ~0:10), so the partial count n=2 lives only in operator state
    _write_events_file(
        spark, src,
        [(1, _ns(5), 1, "click", 1.0, "{}"), (2, _ns(20), 1, "click", 1.0, "{}")],
    )
    _drain(_start_hourly(spark, src, ckpt, out))
    assert spark.read.parquet(out).count() == 0  # window not closed yet

    # phase 2: a far-future event closes hour 0 AFTER the restart —
    # the emitted count includes phase 1's rows only if the agg
    # partials were recovered
    _write_events_file(spark, src, [(3, _ns(400), 1, "click", 1.0, "{}")])
    _drain(_start_hourly(spark, src, ckpt, out))
    emitted = {
        (r["hour_start"].isoformat(), r["n_events"])
        for r in spark.read.parquet(out).collect()
    }
    assert ("2024-01-01T00:00:00", 2) in emitted

    # state-loss control: fresh checkpoint seeing only the far-future
    # event emits NO hour-0 window at all
    src2, ckpt2, out2 = (str(tmp_path / d) for d in ("src2", "ckpt2", "out2"))
    _write_events_file(spark, src2, [(3, _ns(400), 1, "click", 1.0, "{}")])
    _drain(_start_hourly(spark, src2, ckpt2, out2))
    hours = {
        r["hour_start"].isoformat() for r in spark.read.parquet(out2).collect()
    }
    assert "2024-01-01T00:00:00" not in hours
