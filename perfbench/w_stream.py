"""stream-changefeed: open loop. A generator thread drops seeded
list-view files into a watched directory on a fixed schedule (atomic
renames); ``change_source(max_files_per_trigger=1)`` feeds a
``ThrottledBulkUpdate`` with ``trigger_ms=0``. Each file is an
operation, timed from its due time to the end of the micro-batch that
committed it, and costed by the program's CPU during that micro-batch's
foreachBatch call."""

from __future__ import annotations

import datetime as dt
import os
import threading
import time

import numpy as np
import pyarrow.parquet as pq

import gen
import host
import stats
from tracer import ExecProbe, make_progress_listener, stream_phase_medians

FILE_ROWS = 2_000
#: One file per interval. A warm trigger takes about 0.6 s on a quiet
#: 4-core host and up to 1 s under CPU steal; at 0.8 s the feed
#: saturated under steal and latency jumped from 0.6 s to 5 s.
INTERVAL_S = 1.2
VALUE = "bulk-set"
COMMIT_TIMEOUT_S = 60.0
#: The calibration before each drop starts this long before it: two
#: sorts, about 0.2 s on a quiet host.
CALIBRATE_AHEAD_S = 0.3
#: Files committed back to back at the end of set-up. Without them the
#: first dozen triggers ran up to twice as slow as later ones (JIT
#: warm-up), and after eight the triggers still took about 0.25 s longer
#: than after fifteen.
WARM_FILES = 16


def _schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("row_ord", T.LongType()),
            T.StructField("row_id", T.LongType()),
            T.StructField("visible", T.BooleanType()),
            T.StructField("editable", T.BooleanType()),
            T.StructField("readonly", T.BooleanType()),
            T.StructField("name", T.StringType()),
            T.StructField("note", T.StringType()),
            T.StructField("qty", T.IntegerType()),
            T.StructField("partner_id", T.LongType()),
        ]
    )


def _epoch(ts: str) -> float:
    return dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


def commit_end(p) -> float:
    """Wall-clock end of a micro-batch: trigger start plus its duration."""
    return _epoch(p["timestamp"]) + p["durationMs"].get("triggerExecution", 0) / 1000.0


class Feed:
    """One running change-feed query and the files it has been given."""

    def __init__(self, ctx):
        from odoo_batch_processing_spark.streaming.sources import change_source
        from odoo_batch_processing_spark.streaming.throttle import ThrottledBulkUpdate
        from pyspark.sql import functions as F

        self.ctx = ctx
        self.watch = ctx.path("stream", "watch")
        self.out = ctx.path("stream", "out")
        os.makedirs(self.watch)
        self.tb = ThrottledBulkUpdate(
            column="note", value=VALUE, out_dir=self.out,
            checkpoint_dir=ctx.path("stream", "ckpt"),
            visible=F.col("visible"), editable=F.col("editable"),
            readonly=F.col("readonly"), trigger_ms=0,
        )
        # a file's CPU is the program's CPU during its micro-batch's
        # foreachBatch call. Ending at the progress event instead took in
        # the idle polling that followed the batch until the event
        # arrived, and under host load the event came later.
        pid, jvm = os.getpid(), ctx.jvm_pid()
        self.batch_cpu: dict = {}
        apply_batch = ctx.tracer.wrap(self.tb._apply_batch, "streaming.foreach_batch")

        def stamped(batch_df, epoch_id):
            start = host.cpu_parts(pid, jvm)
            try:
                return apply_batch(batch_df, epoch_id)
            finally:
                self.batch_cpu[epoch_id] = host.cpu_delta(start, host.cpu_parts(pid, jvm))

        self.tb._apply_batch = stamped
        # progress comes through a listener: polling recentProgress
        # converts every retained record over py4j, a driver load that
        # grew with the batch count and slowed the triggers it measured
        self.progress: list = []
        self.listener = make_progress_listener(self.progress)
        ctx.spark.streams.addListener(self.listener)
        stream = change_source(ctx.spark, self.watch, schema=_schema(), max_files_per_trigger=1)
        self.query = self.tb.start(stream)
        self.tables = []
        self.skip_overcount = 0

    def drop(self, staged: str) -> float:
        os.rename(staged, os.path.join(self.watch, os.path.basename(staged)))
        return time.time()

    def data_batches(self):
        return sorted(
            (p for p in list(self.progress) if p["numInputRows"] > 0), key=lambda p: p["batchId"]
        )

    def wait_for(self, n_batches: int, timeout: float) -> None:
        deadline = time.time() + timeout
        while len(self.data_batches()) < n_batches and time.time() < deadline:
            time.sleep(0.05)

    def stop(self):
        self.query.stop()
        self.ctx.spark.streams.removeListener(self.listener)


def _stage_files(ctx, rng, first_ord, sizes, tag):
    """Write one parquet file per size into a staging dir (same
    filesystem as the watched dir, so the drop is an atomic rename).
    Modification times are spaced 1 ms apart, in drop order, because the
    file source takes files oldest first."""
    paths, tables = [], []
    base = time.time_ns()
    for k, n in enumerate(sizes):
        t = gen.listview_table(rng, n, first_ord=first_ord)
        first_ord += n
        p = ctx.path("stream", "staging", f"{tag}-{k:04d}.parquet")
        gen.write_parquet(t, p)
        os.utime(p, ns=(base + k * 1_000_000,) * 2)
        paths.append(p)
        tables.append(t)
    return paths, tables, first_ord


def trigger_window(p) -> tuple[float, float]:
    """Wall-clock start and end of a micro-batch."""
    return _epoch(p["timestamp"]), commit_end(p)


def busy_s(batches) -> float:
    """Seconds the engine spent in the given micro-batches."""
    return sum(p["durationMs"].get("triggerExecution", 0) for p in batches) / 1000.0


def run_stream(ctx) -> dict:
    rng = np.random.default_rng(ctx.seed)
    tracer = ctx.tracer
    if ctx.trace:
        from odoo_batch_processing_spark.streaming import throttle

        tracer.patch(throttle, "broadcast_update", "bulk_update.broadcast_update")
    # at least two, so a traced run has an untraced file to cost
    n_files = max(2, int(ctx.seconds / INTERVAL_S))
    # distinct sizes, so each batch can be matched by numInputRows
    sizes = [FILE_ROWS + k + 1 for k in range(n_files)]
    # set-up: generate every file, start the JVM, session and query, then
    # commit one cold priming file and the warm-up files
    t0 = time.perf_counter()
    prime, prime_tables, next_ord = _stage_files(ctx, rng, 1, [FILE_ROWS], "prime")
    warm, warm_tables, next_ord = _stage_files(ctx, rng, next_ord, [FILE_ROWS] * WARM_FILES, "warm")
    staged, tables, _ = _stage_files(ctx, rng, next_ord, sizes, "feed")
    ctx.start_session()
    feed = Feed(ctx)
    feed.tables = prime_tables + warm_tables + tables
    for path in prime + warm:
        feed.drop(path)
    feed.wait_for(1 + WARM_FILES, COMMIT_TIMEOUT_S)
    setup = time.perf_counter() - t0

    half = n_files // 2 if ctx.trace else n_files
    due, actual = [], []
    probe = ExecProbe(ctx.spark) if ctx.trace else None

    def pause_until(t):
        delay = t - time.time()
        if delay > 0:
            time.sleep(delay)

    def generator():
        cal.append(host.calibration_cpu_s(ctx.spark._jvm, reps=2))
        start = time.time() + CALIBRATE_AHEAD_S
        for k, path in enumerate(staged):
            due_k = start + k * INTERVAL_S
            # calibrate in the gap before the drop, and only once every
            # dropped file's foreachBatch call has returned: a sort that
            # overlapped a call would be counted in that file's CPU
            pause_until(due_k - CALIBRATE_AHEAD_S)
            if len(feed.batch_cpu) >= 1 + WARM_FILES + k:
                cal.append(host.calibration_cpu_s(ctx.spark._jvm, reps=2))
            pause_until(due_k)
            if k == half and ctx.trace:
                tracer.active = True
                probe.begin("feed")
            due.append(due_k)
            actual.append(feed.drop(path))

    cal = []
    gen_thread = threading.Thread(target=generator, name="perfbench-feed")
    gen_thread.start()
    gen_thread.join()
    feed.wait_for(1 + WARM_FILES + n_files, COMMIT_TIMEOUT_S)
    batches = feed.data_batches()
    pairs, mismatches = stats.map_batches_to_files(batches[1 + WARM_FILES :], sizes)
    untraced = [p for _, p in pairs[:half]]
    traced = [p for _, p in pairs[half:]]
    file_cpus = [feed.batch_cpu[p["batchId"]] for p in untraced if p["batchId"] in feed.batch_cpu]
    if probe:
        probe.end(busy=[trigger_window(p) for p in traced])
        tracer.active = False
    feed.stop()

    commits = [commit_end(p) for _, p in pairs]
    lat = stats.open_loop_latencies(due[: len(commits)], commits)
    late = stats.lateness(due, actual)
    failures = check_output(feed)
    # the untraced files give the end-to-end figures; run_s is the time
    # the engine was busy with them, not the schedule that fed them
    run_s = busy_s(untraced)
    out = {
        "setup": setup,
        "check_failures": failures,
        "run_s": run_s,
        "cpu": {k: stats.median([c[k] for c in file_cpus]) for k in host.CPU_PARTS},
        "calibration_s": cal,
        "latencies": lat[:half],
        "rows_per_s": sum(p["numInputRows"] for p in untraced) / run_s,
        "attempted": n_files,
        "failed": len(mismatches),
        "notes": {
            "file_cpu_s": " ".join(f"{c['program']:.2f}" for c in file_cpus),
            "generator_late_max_s": max(late),
            "generator_late_p50_s": stats.median(late),
            "interval_s": INTERVAL_S,
            "file_rows": FILE_ROWS,
            "schedule_s": (commits[half - 1] - due[0]) if len(commits) >= half else 0.0,
            "streaming.skip_overcount": feed.skip_overcount,
        },
    }
    if ctx.trace:
        probe.ops = max(1, len(traced))
        n = max(1, len(traced))
        layers = {
            "session.start_s": stats.median(ctx.session_starts),
            "streaming.batches": len(traced),
            "streaming.rows_per_batch": stats.median([p["numInputRows"] for p in traced]),
            "streaming.backlog_max_files": stats.backlog_max(actual, commits),
        }
        layers.update(stream_phase_medians(traced))
        layers.update(probe.per_op())
        layers.update(host.cpu_layers(out["cpu"]))
        totals, selfs = stats.total_times(tracer.spans), stats.self_times(tracer.spans)
        for name, total in totals.items():
            layers[f"{name}_s"] = total / n
            layers[f"{name}.self_s"] = selfs[name] / n
        out["layers"] = layers
        # scaled to the untraced half's file count
        out["traced_run_s"] = busy_s(traced) * len(untraced) / n
        out["traced_op_p50_s"] = stats.median(lat[half:])
    return out


def check_output(feed) -> list:
    """Committed rows equal dropped rows; every updated value follows
    the guard rule; ``success_count`` matches. Also records the
    skipped-count overcount (hidden rows counted as skipped)."""
    import pyarrow as pa

    inputs = pa.concat_tables(feed.tables).to_pandas()
    got = pq.read_table(feed.out).to_pandas()
    failures = []
    if len(got) != len(inputs):
        failures.append(f"committed {len(got)} rows, dropped {len(inputs)}")
    merged = inputs.merge(got[["row_id", "note"]], on="row_id", suffixes=("", "_out"))
    vis = merged["visible"].to_numpy()
    applied = vis & merged["editable"].to_numpy() & ~merged["readonly"].to_numpy()
    expect = np.where(applied, VALUE, merged["note"].to_numpy())
    bad = int((merged["note_out"].to_numpy() != expect).sum())
    if bad or len(merged) != len(inputs):
        failures.append(f"{bad} rows break the guard rule, {len(inputs) - len(merged)} missing")
    success = int(applied.sum())
    if feed.tb.success_count != success:
        failures.append(f"success_count {feed.tb.success_count}, reference {success}")
    feed.skip_overcount = feed.tb.skipped_count - int((vis & ~applied).sum())
    return failures
