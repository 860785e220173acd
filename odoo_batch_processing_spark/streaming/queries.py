"""Bounded streaming runs exposed through the driver contract.

Each callable drives a REAL Structured Streaming query (file source →
trigger → sink) to completion on the fixture data and returns the
result as a DataFrame, so the streaming machinery itself sits under
the correctness gate: where the result is SQL-expressible the DuckDB
oracle hash-checks it; un-expressible runs get the rows-only check.

Scratch space: sinks/checkpoints live under <repo>/.scratch (gitignored)
— each run gets a fresh directory; results are returned as reads over
the written parquet, so nothing is collected driver-side.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from odoo_batch_processing_spark.sources.loader import load_table
from odoo_batch_processing_spark.sources.sinks import scratch_dir as _scratch_dir
from odoo_batch_processing_spark.streaming.progress import ProgressTracker
from odoo_batch_processing_spark.streaming.sources import change_source
from odoo_batch_processing_spark.streaming.throttle import ThrottledBulkUpdate
from odoo_batch_processing_spark.streaming.windowed import hourly_counts

_MEMSINK_SEQ = [0]


def _mem_name(prefix: str) -> str:
    _MEMSINK_SEQ[0] += 1
    return f"{prefix}_{os.getpid()}_{_MEMSINK_SEQ[0]}"


def drain_memory_sink(spark: SparkSession, q, name: str) -> DataFrame:
    """Run memory-sink query ``q`` to exhaustion, stop it even when
    processing fails, and return the sink's table ``name``."""
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


#: Stateful streaming operators materialize one state-store instance
#: per shuffle partition per operator; the partition count should be
#: sized to STATE volume, not inherited from the batch CPU count.
#: The fixture streams carry kilobytes of state, so 32 inherited
#: partitions mean 32 near-empty state stores ticking through every
#: micro-batch — measured 2–2.6× slower than 8 at sf0.1. At 100 TB
#: raise this to keep per-partition state under executor memory
#: (state_bytes / ~1 GB); results are partition-count-independent
#: either way (exact aggregates), so this is purely a latency knob.
STREAM_SHUFFLE_PARTITIONS = 8

#: The state-store providers the streaming family runs under, by the
#: name tools and tests pass: HDFS-backed is Spark's default, RocksDB
#: spills state to disk.
STATE_STORE_PROVIDERS = {
    "hdfs": (
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider"
    ),
    "rocksdb": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
}


def _with_stream_shuffle(fn):
    """Run a streaming catalog query with the state-sized shuffle
    partition count, restoring the session's batch setting after."""
    import functools

    @functools.wraps(fn)
    def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", STREAM_SHUFFLE_PARTITIONS)
        try:
            return fn(spark, sf_dir)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    return wrapper


def _events_dir(sf_dir: str) -> str:
    """The streaming file source requires a DIRECTORY of data files.
    Stage a per-run scratch dir of symlinks (zero copy, fixtures
    untouched). The fixture ships as a single parquet FILE; an
    engine-written corpus (e.g. SCALE.md's 8× star-schema clone) is a parquet
    DIRECTORY whose member files are linked individually — a symlink
    to the directory itself would hide the files from both the file
    source's listing and the ts-unit probe. Targets are absolute so a
    relative ``sf_dir`` can't produce dangling links."""
    import glob as _glob

    d = _scratch_dir("events-src")
    src = os.path.abspath(os.path.join(sf_dir, "events.parquet"))
    if os.path.isdir(src):
        members = sorted(_glob.glob(os.path.join(src, "*.parquet")))
        if not members:
            raise FileNotFoundError(f"no *.parquet members under {src!r}")
        for i, f in enumerate(members):
            os.symlink(f, os.path.join(d, f"part-{i:03d}.parquet"))
    else:
        os.symlink(src, os.path.join(d, "part-000.parquet"))
    return d


def _events_multi_dir(spark: SparkSession, sf_dir: str, n_files: int) -> str:
    """Stage the events fixture as ``n_files`` parquet files so a
    maxFilesPerTrigger=1 source yields ``n_files`` real micro-batches —
    the non-degenerate form of the reference's per-row incremental loop
    (user.js:454-500). Raw read (no ts conversion) so the staged schema
    matches what change_source expects.

    Content-keyed and built once per (corpus, n_files) — bench reps and
    repeat queries reuse the staged files instead of re-writing them
    (round-6 streaming fixed-cost audit; ``sinks.staged_once``)."""
    from odoo_batch_processing_spark.sources.sinks import staged_once

    src = os.path.join(sf_dir, "events.parquet")
    return staged_once(
        f"events-multi-{n_files}",
        src,
        lambda d: spark.read.parquet(src)
        .repartition(n_files)
        .write.mode("overwrite")
        .parquet(d),
    )


def _q_s_r22_change_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R22: file-arrival change source driving a streaming count by
    type (complete mode memory sink, run to exhaustion)."""
    stream = change_source(spark, _events_dir(sf_dir))
    name = _mem_name("s_r22")
    q = (
        stream.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    return drain_memory_sink(spark, q, name)


def _stage_r22_manifest(spark: SparkSession, sf_dir: str) -> str:
    """Manifest path of the shared R22 staging: the full events corpus
    as 4 parquet files + an append-only manifest naming them,
    content-keyed via staged_once."""
    import glob as _glob

    from odoo_batch_processing_spark.sources.sinks import staged_once

    # route one load through the loader so session confs (nanosAsLong)
    # are applied before the raw staging read below
    load_table(spark, sf_dir, "events")
    src = os.path.join(sf_dir, "events.parquet")

    def _build(d):
        files_dir = os.path.join(d, "files")
        (
            spark.read.parquet(src)
            .repartition(4)
            .write.mode("overwrite")
            .parquet(files_dir)
        )
        parts = sorted(_glob.glob(os.path.join(files_dir, "part-*.parquet")))
        with open(os.path.join(d, "manifest.txt"), "w") as fh:
            for p in parts:
                fh.write(f"files/{os.path.basename(p)}\n")

    root = staged_once("r22-manifest-src", src, _build)
    return os.path.join(root, "manifest.txt")


def _q_s_r22_manifest_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R22 on the manifest protocol — counts by type over a corpus
    whose file discovery is sources/manifest.py's O(new) tail-read of
    an append-only manifest instead of a directory listing (the 100 TB
    ingest shape where listing walls — measured 7.6–27 s at 512k
    files, SCALE.md round 13 — are replaced by a ~1 ms cursor advance). The
    full events corpus is staged once into 4 parquet files + a
    manifest naming them; one file per trigger forces 4 genuine
    micro-batches through the manifest protocol before the
    complete-mode counts land.

    The data plane is the JVM spool (``manifest_file_stream``): the
    manifest cursor hard-links newly listed files into a spool
    directory (O(new) metadata, zero rows through Python) watched by
    the built-in vectorized parquet file source, with
    cleanSource=delete keeping the spool listing O(unprocessed)."""
    from odoo_batch_processing_spark.sources.manifest import manifest_file_stream

    stream, pump = manifest_file_stream(
        spark,
        _stage_r22_manifest(spark, sf_dir),
        _scratch_dir("r22-core-spool"),
        max_files_per_trigger=1,
    )
    name = _mem_name("s_r22m")
    q = (
        stream.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", _scratch_dir("r22-core-spool-ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()  # the pre-pumped first file
        while pump.pump(1):  # one notification per step → one trigger each
            q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def _q_s_x7_stream_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 streaming: watermarked hourly windows (complete mode so every
    window emits and the batch oracle matches; the append-mode
    late-drop behavior is unit-tested in tests/test_streaming.py)."""
    stream = change_source(spark, _events_dir(sf_dir))
    name = _mem_name("s_x7")
    q = (
        hourly_counts(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    return drain_memory_sink(spark, q, name)


def _q_s_r18_throttled_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R18/R15: trigger-paced micro-batch constant update via
    foreachBatch; the committed sink is the returned relation."""
    out_dir = _scratch_dir("r18-out")
    ckpt = _scratch_dir("r18-ckpt")
    run = ThrottledBulkUpdate(
        column="event_type",
        value="bulk",
        out_dir=out_dir,
        checkpoint_dir=ckpt,
        visible=F.col("value") > 50.0,
        readonly=F.col("event_type") == "error",
    )
    q = run.start(change_source(spark, _events_dir(sf_dir)), available_now=True)
    q.awaitTermination()
    # explicit raise, not assert: this accounting gate is part of the
    # query's R15 contract and must survive `python -O` (review r14 #3)
    if run.success_count + run.skipped_count <= 0:
        raise RuntimeError(
            "r18: the availableNow run committed zero rows — the R15 "
            "accounting never observed a micro-batch"
        )
    return spark.read.parquet(out_dir).select("event_id", "event_type")


#: micro-batch count for the multi-batch progress / cancellation runs
_N_BATCH_FILES = 4


def _q_s_r17_progress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R17: listener-derived progress over a genuinely multi-batch run
    (maxFilesPerTrigger=1 over a 4-file staging) — the percentage
    sequence must be monotone and end at exactly 100, the reference's
    round((i+1)/n*100) contract (user.js:464-473) at batch granularity."""
    src = _events_multi_dir(spark, sf_dir, _N_BATCH_FILES)
    total = spark.read.parquet(src).count()
    name = _mem_name("s_r17")
    # the tracker is bound to THIS query by name — the listener bus is
    # session-wide, and a concurrent stream (e.g. a parallel test)
    # would otherwise corrupt the accounting (review r14 #6)
    tracker = ProgressTracker(expected_total=total, query_name=name)
    spark.streams.addListener(tracker)
    try:
        stream = change_source(spark, src, max_files_per_trigger=1)
        q = (
            stream.select("event_id")
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        deadline = time.time() + 30
        while time.time() < deadline and tracker.rows_seen < total:
            time.sleep(0.1)  # listener bus is async
    finally:
        spark.streams.removeListener(tracker)
    # ignore possible trailing no-data batches; judge the data batches
    batches = [b for b in tracker.batches if b.rows > 0]
    pcts = [b.pct for b in batches]
    monotone = all(a <= b for a, b in zip(pcts, pcts[1:]))
    rows = [(b.batch_id, b.rows, b.cumulative_rows, b.pct) for b in batches]
    df = spark.createDataFrame(rows, "batch_id bigint, rows bigint, cumulative_rows bigint, pct int")
    return df.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_batches"),
        F.sum("rows").cast("bigint").alias("rows_seen"),
        F.max("pct").cast("int").alias("final_pct"),
        F.lit(monotone).alias("pct_monotone"),
    )


def _q_s_r19_cancel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R19: cooperative mid-run cancellation. A throttled update runs
    over a 4-file source (1 file per trigger, 30 s between triggers);
    the monitor cancels as soon as the first micro-batch's accounting
    lands, long before trigger #2 can fire — so exactly one batch
    commits and the rest never run (user.js:456-458: committed work
    survives, remaining work is skipped). The committed sink holds a
    proper subset of the source, asserted by partial_commit."""
    src = _events_multi_dir(spark, sf_dir, _N_BATCH_FILES)
    total = spark.read.parquet(src).count()
    out_dir = _scratch_dir("r19-out")
    run = ThrottledBulkUpdate(
        column="event_type",
        value="bulk",
        out_dir=out_dir,
        checkpoint_dir=_scratch_dir("r19-ckpt"),
        trigger_ms=30_000,
    )
    stream = change_source(spark, src, max_files_per_trigger=1)
    q = run.start(stream)
    deadline = time.time() + 120
    while time.time() < deadline and run.success_count == 0:
        time.sleep(0.02)
    run.cancel()
    q.awaitTermination(60)
    # explicit schema (review r14 #7): a cancel that somehow landed
    # before ANY micro-batch committed (monitor deadline expiry on a
    # wedged stream) leaves out_dir with zero part files, and schema
    # INFERENCE on it would throw AnalysisException — masking the
    # interesting answer (committed=0, partial_commit=False, i.e.
    # cancelled-before-start) behind a read error. The sink's schema
    # is the stream's own, so the read is value-identical when files
    # do exist.
    committed = spark.read.schema(stream.schema).parquet(out_dir).count()
    return spark.createDataFrame(
        [
            (
                run.cancelled,
                run.outcome,
                bool(0 < committed < total),
                committed == run.success_count + run.skipped_count,
            )
        ],
        "cancelled boolean, outcome string, partial_commit boolean, accounting_consistent boolean",
    )


def _q_s_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful per-user totals (Spark's built-in streaming aggregate,
    state in the state store) run to exhaustion. Single-file source →
    one micro-batch → the emitted running totals equal the overall
    per-user totals, which the oracle asserts."""
    from odoo_batch_processing_spark.streaming.stateful import running_totals

    stream = change_source(spark, _events_dir(sf_dir))
    name = _mem_name("s_state")
    q = (
        running_totals(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", _scratch_dir("state-ckpt"))
        .start()
    )
    return drain_memory_sink(spark, q, name)


def x3_stream_staged_src(spark: SparkSession, sf_dir: str) -> str:
    """The x3 stream's content-keyed 3-file staged source (the top
    doc_id decile split across three files), built once so bench reps
    share one staging. SCALE.md's trigger-cadence floor table measured
    a zero-work twin over this identical layout."""
    from odoo_batch_processing_spark.sources.sinks import staged_once

    docs = load_table(spark, sf_dir, "documents")

    def _build(d):
        t = docs.agg(
            F.floor(F.lit(9.0) * F.max("doc_id") / F.lit(10.0))
            .cast("bigint")
            .alias("t")
        ).first()["t"]
        docs.filter(F.col("doc_id") > t).repartition(3).write.mode(
            "overwrite"
        ).parquet(d)

    return staged_once(
        "x3-stream-batch", os.path.join(sf_dir, "documents.parquet"), _build
    )


def _q_s_x3_stream_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily-ingest near-dup as a STREAM: today's batch (the top
    doc_id decile, same slice as core `x3_incremental_neardup`) arrives
    in three files; each micro-batch probes the standing write-time
    MinHash index (`dedup.probe_standing_index` — band keys from the
    batch's text only, O(batch) per trigger, the corpus never
    re-tokenized) and appends its verified pairs to a parquet sink.
    The union over micro-batches equals the batch query exactly — a
    pair (a,b) is emitted by the one micro-batch holding doc_b, so no
    pair is duplicated or lost regardless of how the batch is chunked
    — and the same DuckDB oracle certifies it."""
    from odoo_batch_processing_spark.operators.dedup import probe_standing_index
    from odoo_batch_processing_spark.schemas import SCHEMAS
    from odoo_batch_processing_spark.session import materialized_scope
    from odoo_batch_processing_spark.sources.loader import fan_out

    staging = x3_stream_staged_src(spark, sf_dir)
    out_dir = _scratch_dir("x3-stream-pairs")
    # seed an empty, correctly-typed epoch so the final partitioned
    # read works even if a run yields zero pairs (epoch=-1 can never
    # collide with a real foreachBatch epoch id)
    empty = spark.createDataFrame([], "doc_a bigint, doc_b bigint, jaccard double")
    empty.write.mode("overwrite").parquet(os.path.join(out_dir, "epoch=-1"))

    def _probe(batch_df, epoch_id):
        # the probe pins three intermediates (batch shingle sets,
        # candidates, verify sets) via materialize_once; scope them to
        # THIS micro-batch (review r14 #2/#4) — without the release, a
        # long-running stream grows the executor block store by three
        # pinned relations per trigger for the query's lifetime
        with materialized_scope():
            pairs = probe_standing_index(
                spark, sf_dir, fan_out(batch_df, spark, "doc_id")
            )
            # foreachBatch is at-least-once: a crash between a blind
            # append and the checkpoint commit would replay the epoch
            # and duplicate its pairs. Overwriting a PER-EPOCH
            # directory makes the replay idempotent — the
            # exact-multiset oracle depends on it.
            pairs.write.mode("overwrite").parquet(
                os.path.join(out_dir, f"epoch={int(epoch_id)}")
            )

    stream = (
        spark.readStream.schema(SCHEMAS["documents"])
        .option("maxFilesPerTrigger", 1)
        .parquet(staging)
    )
    q = (
        stream.writeStream.foreachBatch(_probe)
        .option("checkpointLocation", _scratch_dir("x3-stream-ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # partition discovery surfaces the epoch column; the relation the
    # oracle certifies is the epoch-independent union
    return spark.read.parquet(out_dir).select("doc_a", "doc_b", "jaccard")


def _q_s_x4_stream_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ANN — the vector-search analogue of
    ``s_x3_stream_incremental_neardup``: query vectors arrive as files
    (the fixture query set staged as two mtime-ordered batches); each
    micro-batch probes the standing write-time sign-bit IVF index
    (``similarity.ivf_index_probe_topk`` — O(batch) per trigger, the
    corpus never re-scanned beyond the probed ``cell=`` directories)
    and writes its exact per-query top-k to a per-epoch parquet sink
    (idempotent overwrite — the at-least-once foreachBatch replay
    discipline shared with the x3 stream). Each query id lives in
    exactly one staged file, so the union over micro-batches equals
    the batch ``x4_ivf_indexed_multiprobe`` result EXACTLY, and the
    same DuckDB oracle certifies it."""
    from odoo_batch_processing_spark.operators.similarity import (
        ivf_index_probe_topk,
        N_QUERIES,
    )
    from odoo_batch_processing_spark.schemas import SCHEMAS
    from odoo_batch_processing_spark.session import materialized_scope
    from odoo_batch_processing_spark.sources.loader import fan_out
    from odoo_batch_processing_spark.sources.sinks import staged_once

    emb = load_table(spark, sf_dir, "embeddings")

    def _build(d):
        emb.filter(F.col("vec_id") < N_QUERIES).repartition(2).write.mode(
            "overwrite"
        ).parquet(d)

    staging = staged_once(
        "x4-stream-queries", os.path.join(sf_dir, "embeddings.parquet"), _build
    )
    out_dir = _scratch_dir("x4-stream-topk")
    empty = spark.createDataFrame(
        [], "query_id bigint, rank bigint, neighbor_id bigint, cos_sim double"
    )
    empty.write.mode("overwrite").parquet(os.path.join(out_dir, "epoch=-1"))

    def _probe(batch_df, epoch_id):
        with materialized_scope():
            topk = ivf_index_probe_topk(
                spark, sf_dir, fan_out(batch_df, spark, "vec_id")
            )
            topk.write.mode("overwrite").parquet(
                os.path.join(out_dir, f"epoch={int(epoch_id)}")
            )

    stream = (
        spark.readStream.schema(SCHEMAS["embeddings"])
        .option("maxFilesPerTrigger", 1)
        .parquet(staging)
    )
    q = (
        stream.writeStream.foreachBatch(_probe)
        .option("checkpointLocation", _scratch_dir("x4-stream-ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.read.parquet(out_dir).select(
        "query_id", "rank", "neighbor_id", "cos_sim"
    )


def _q_s_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization via the built-in session_window (30min
    gap) — the native form of operators/windows._q_x7_sessionize's
    lag+cumsum batch plan. Output is (user, start, end, n) so the
    batch-derived oracle compares without session ordinals."""
    stream = change_source(spark, _events_dir(sf_dir))
    name = _mem_name("s_sess")
    q = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    return drain_memory_sink(spark, q, name)


def _q_s_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with watermarks: purchases ⋈ follow-up
    events of the same user within 30 minutes — the streaming form of
    operators/asof.range_join_bucketed (whose batch oracle this run is
    checked against). Both sides carry watermarks so the join state is
    bounded; the time-range condition lets Spark evict rows older than
    (watermark − window)."""
    src = _events_dir(sf_dir)
    purchases = (
        change_source(spark, src)
        .filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "10 minutes")
    )
    others = (
        change_source(spark, src)
        .filter(F.col("event_type") != "purchase")
        .select("user_id", F.col("event_id").alias("follow_id"), F.col("ts").alias("f_ts"))
        .withWatermark("f_ts", "10 minutes")
    )
    joined = purchases.join(
        others,
        (purchases.user_id == others.user_id)
        & (F.col("f_ts") >= F.col("p_ts"))
        & (F.col("f_ts") < F.col("p_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select("purchase_id", "follow_id")
    name = _mem_name("s_ssj")
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", _scratch_dir("ssj-ckpt"))
        .start()
    )
    return drain_memory_sink(spark, q, name)


def _q_s_x2_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (the ingest-time form of X2): the corpus
    arrives as two identical files processed in two micro-batches
    (maxFilesPerTrigger=1); ``dropDuplicates`` on the normalization
    fingerprint carries its seen-keys state ACROSS batches, so the
    second copy contributes zero rows. The returned relation is the
    distinct fingerprint set — batch order cannot change it, keeping
    the oracle exact. At scale the state store is the dedup index;
    bound it with dropDuplicatesWithinWatermark when keys expire."""
    from odoo_batch_processing_spark.operators.text import fingerprint
    from odoo_batch_processing_spark.schemas import SCHEMAS

    from odoo_batch_processing_spark.sources.sinks import staged_once

    corpus = os.path.join(sf_dir, "documents.parquet")

    def _build(d):
        docs = spark.read.parquet(corpus)
        docs.coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "copy=1"))
        # overwrite, not append: the builder must be idempotent so a
        # rerun can never double copy=2 (ADVICE r6 #2)
        docs.coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "copy=2"))

    src = staged_once("x2-stream-src", corpus, _build)

    stream = (
        spark.readStream.schema(SCHEMAS["documents"])
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    deduped = (
        stream.select(fingerprint(F.col("text")).alias("fp"))
        .dropDuplicates(["fp"])
    )
    name = _mem_name("s_x2")
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", _scratch_dir("x2-stream-ckpt"))
        .start()
    )
    return drain_memory_sink(spark, q, name)


def _q_s_x2_stream_dedup_wm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-BOUNDED streaming dedup — the state-expiring form the
    unbounded ``s_x2_stream_dedup`` docstring points at. The events
    corpus (30 days of event time) arrives twice in two micro-batches;
    ``dropDuplicatesWithinWatermark`` with a 1-hour delay keeps only
    keys younger than watermark−1h in the state store, so after batch
    1 the watermark (max ts − 1h) has EVICTED ~all of the corpus from
    state. Batch 2's duplicates still contribute nothing: rows older
    than the watermark are dropped as late, rows inside the horizon
    hit live state — either way the appended output is exactly one row
    per event_id, which is what keeps the oracle exact while state
    stays O(events-per-hour) instead of O(corpus). The in-query assert
    certifies the bound the unbounded form cannot offer: final state
    rows ≪ corpus rows. At 100 TB this is the ONLY viable ingest-dedup
    within a replay horizon; the unbounded form is for bounded
    backfills."""
    from odoo_batch_processing_spark.sources.sinks import staged_once

    corpus = os.path.join(sf_dir, "events.parquet")
    ev = load_table(spark, sf_dir, "events")

    def _build(d):
        ev.coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "copy=1"))
        # overwrite for idempotence on rerun (ADVICE r6 #2)
        ev.coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "copy=2"))

    src = staged_once("x2wm-stream-src", corpus, _build)
    n_rows = ev.count()

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    deduped = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id")
    )
    name = _mem_name("s_x2wm")
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", _scratch_dir("x2wm-stream-ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        progress = q.lastProgress
    finally:
        q.stop()
    state_rows = progress["stateOperators"][0]["numRowsTotal"]
    # explicit raise, not assert: the watermark bound IS this query's
    # claim — an `-O` run must not skip it (review r14 #3; same form
    # as the rate query's throughput gate below)
    if not state_rows < 0.2 * n_rows:
        raise RuntimeError(
            f"dedup state not bounded by the watermark: {state_rows} rows "
            f"retained of {n_rows} ingested"
        )
    return spark.table(name)


def _q_s_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join — the enrichment shape of a 100 TB ingest
    path: a streaming fact (events) inner-joins a STATIC dimension
    (customer) with no watermark or state store (the static side is
    re-planned per micro-batch, broadcast under the size threshold;
    at scale a slowly-changing dim becomes a Delta table the batch
    re-reads). Aggregated per segment in complete mode; the money sum
    accumulates in DECIMAL so the result is order-independent and
    hash-comparable (functions/exprs policy)."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    stream = change_source(spark, _events_dir(sf_dir))
    enriched = stream.join(cust, stream["user_id"] == cust["c_custkey"])
    name = _mem_name("s_sstatic")
    q = (
        enriched.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    return drain_memory_sink(spark, q, name)


#: sustained-rate run: rows/s the rate source generates, and how long
#: the query is left running
RATE_ROWS_PER_SEC = 1000
RATE_RUN_SECONDS = 10.0
_RATE_KEYS = 100
#: how far the newest committed row may trail the stop instant: one
#: in-flight micro-batch plus a trigger boundary. A query processing
#: at even 0.9x the source accumulates ~1 s of new lag per 10 s run.
RATE_LAG_MAX_SEC = 3.0

#: measured facts from the latest _q_s_rate_throughput run (achieved
#: rate, lag, state rows) — the query's RESULT is deterministic for
#: the oracle hash gate, so the nondeterministic receipt rides here
#: for callers and tests to read (SCALE.md records past receipts).
LAST_RATE_RECEIPT: dict = {}


def _q_s_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once upsert: foreachBatch + an idempotent
    commit ledger over the partition-overwrite MERGE sink.

    The canonical production sink pattern Structured Streaming itself
    doesn't ship: foreachBatch gives at-least-once delivery (a batch
    can REPLAY after a failure), so a non-idempotent read-modify-write
    (here: value ← current + 100, a counter-style accumulate) would
    double-apply on replay. The fix is the standard epoch ledger —
    commit the batch and record its epoch id atomically-enough
    (marker file beside the target; a real deployment uses the table
    format's txn log via ``txnAppId``/``txnVersion``), and skip any
    epoch already recorded.

    The claim is certified, not asserted: after the first run
    completes, the SAME source is re-streamed against the same target
    with a FRESH checkpoint, so every batch replays from epoch 0. The
    ledger skips them all; had it failed, every purchase would gain
    +200 and the DuckDB oracle (which expects exactly +100) would
    hash-mismatch. Target seeded with the even-id half of events, so
    the MERGE exercises both UPDATE (even purchases) and INSERT (odd
    purchases) arms."""
    from odoo_batch_processing_spark.sources.sinks import merge_into_partitioned

    ev = load_table(spark, sf_dir, "events")
    target = _scratch_dir("s-merge-target")
    (
        ev.filter(F.col("event_id") % 2 == 0)
        .select("event_id", "event_type", "value")
        .write.mode("overwrite")
        .partitionBy("event_type")
        .parquet(target)
    )
    src_dir = _events_multi_dir(spark, sf_dir, 3)
    ledger = _scratch_dir("s-merge-ledger")

    def upsert(batch_df: DataFrame, epoch_id: int) -> None:
        marker = os.path.join(ledger, f"epoch-{epoch_id}")
        if os.path.exists(marker):  # replayed batch: already committed
            return
        batch = batch_df.filter(F.col("event_type") == "purchase").select(
            "event_id", "event_type", F.col("value").alias("src_value")
        )
        current = spark.read.parquet(target).select(
            "event_id", F.col("value").alias("old_value")
        )
        upd = batch.join(current, "event_id", "left").select(
            "event_id",
            "event_type",
            (F.coalesce("old_value", "src_value") + F.lit(100.0)).alias("value"),
        )
        merge_into_partitioned(
            spark, target, upd, key="event_id", partition_by="event_type"
        )
        with open(marker, "w") as fh:
            fh.write("committed")

    for attempt in ("first", "replay"):
        q = (
            change_source(spark, src_dir, max_files_per_trigger=1)
            .writeStream.foreachBatch(upsert)
            .option("checkpointLocation", _scratch_dir(f"s-merge-ckpt-{attempt}"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    return (
        spark.read.parquet(target)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
    )


def _q_s_rate_throughput(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sustained-rate evidence: the built-in ``rate`` source generates
    exactly RATE_ROWS_PER_SEC rows/s for ~RATE_RUN_SECONDS through a
    stateful per-key aggregation (update mode). Unlike the file-based
    ``s_*`` runs (≤4 micro-batches, then done), this demonstrates the
    engine KEEPING UP with a continuous producer: if processing were
    slower than the source, input backlog would grow and the achieved
    ingest rate would fall below the configured rate.

    Asserted in-query (fail = exception, driver-visible):
    * **no growing backlog**: the newest COMMITTED row's source
      timestamp must be within LAG_MAX of the stop instant. A query
      that falls behind accumulates exactly this lag (the source
      stamps rows at generation time), so the gate fires on any
      sustained shortfall — unlike a discounted-throughput check,
      which a backlogged query can still pass;
    * **achieved ≥ 1.0× configured** over the source window actually
      consumed: total ingested rows ÷ (max − min committed timestamp)
      must reach the configured rate — catches dropped/uncommitted
      rows inside the window;
    * state bounded: the aggregation keys on value % 100, so the state
      store must hold ≤ 100 rows no matter how long the run.

    Counting note (round-4 fix): the update-mode memory sink APPENDS
    each batch's updated rows, and streaming counts are running totals
    — so per key the latest value is ``max(n)``, and total ingested is
    ``sum(max(n) per key)``. A plain ``sum(n)`` over the sink counts
    every key once per batch it appeared in (≈ (n_batches+1)/2 ×
    overcount), which is why the old 0.5× gate could never fire.

    Oracle contract (VERDICT r12 #5 — previously rows-only): raw
    timings are inherently nondeterministic, so the returned row
    carries only DETERMINISTIC facts — the configuration and the
    gate booleans (each backed by an in-query raise, so a FALSE can
    never reach the sink) — and DuckDB hash-gates them as literals.
    The measured values (achieved rate, lag, state rows, batch count)
    are stashed in :data:`LAST_RATE_RECEIPT`; SCALE.md records past
    receipts.
    ``sf_dir`` is unused (source is synthetic) — present for the
    uniform catalog signature.
    """
    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", RATE_ROWS_PER_SEC)
        .option("numPartitions", 2)
        .load()
        .withColumn("key", F.pmod(F.col("value"), F.lit(_RATE_KEYS)).cast("int"))
    )
    counts = stream.groupBy("key").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("timestamp").alias("ts_max"),
        F.min("timestamp").alias("ts_min"),
    )
    name = _mem_name("s_rate")
    q = (
        counts.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        deadline = time.time() + RATE_RUN_SECONDS
        while time.time() < deadline:
            time.sleep(0.25)
    finally:
        t_stop = time.time()
        q.stop()
    # per-key running totals are monotone, so latest-per-key = max(n);
    # the committed-frontier timestamps ride along the same aggregate
    agg = (
        spark.table(name)
        .groupBy("key")
        .agg(
            F.max("n").alias("n_latest"),
            F.max("ts_max").alias("ts_max"),
            F.min("ts_min").alias("ts_min"),
        )
        .agg(
            F.sum("n_latest").cast("bigint").alias("rows_in"),
            F.max("ts_max").alias("frontier"),
            F.min("ts_min").alias("first_ts"),
        )
        .collect()[0]
    )
    rows_in = agg["rows_in"] or 0
    progresses = [p for p in q.recentProgress if p is not None]
    n_batches = len([p for p in progresses if p["numInputRows"] > 0])
    last = q.lastProgress
    state_rows = max(
        (op["numRowsTotal"] for op in (last["stateOperators"] if last else [])),
        default=0,
    )
    # explicit raises (not assert — stripped under python -O): these ARE
    # the check, and a silent True would defeat the driver-visible gate
    if rows_in <= 0:
        raise RuntimeError("rate source produced no rows")
    lag = t_stop - agg["frontier"].timestamp()
    if lag > RATE_LAG_MAX_SEC:
        raise RuntimeError(
            f"backlog grew: newest committed row is {lag:.1f}s behind the "
            f"stop instant (max {RATE_LAG_MAX_SEC}s) — the query is not keeping up "
            f"with {RATE_ROWS_PER_SEC} rows/s"
        )
    consumed = agg["frontier"].timestamp() - agg["first_ts"].timestamp()
    # + one inter-row tick: n rows span (n-1) ticks of 1/rate seconds
    consumed += 1.0 / RATE_ROWS_PER_SEC
    achieved = rows_in / max(consumed, 1e-9)
    # 0.5% tolerance = millisecond timestamp quantization and float
    # division, NOT throughput slack — a real drop of even one batch
    # (≥ rate × trigger ≈ hundreds of rows over a 10 s run) is a ≥3%
    # shortfall and still trips
    if achieved < 0.995 * RATE_ROWS_PER_SEC:
        raise RuntimeError(
            f"rows dropped inside the consumed window: achieved "
            f"{achieved:.0f} rows/s < 1.0 x {RATE_ROWS_PER_SEC} configured"
        )
    if state_rows > _RATE_KEYS:
        raise RuntimeError(f"state not bounded: {state_rows} rows")
    if n_batches < 2:
        raise RuntimeError(
            f"only {n_batches} data micro-batches over a "
            f"{RATE_RUN_SECONDS}s run — not a sustained-ingest sample"
        )
    # measured receipt (module-global: the DataFrame must stay
    # deterministic for the hash gate)
    LAST_RATE_RECEIPT.clear()
    LAST_RATE_RECEIPT.update(
        {
            "configured_rate": RATE_ROWS_PER_SEC,
            "run_seconds": RATE_RUN_SECONDS,
            "rows_in": int(rows_in),
            "n_batches": int(n_batches),
            "achieved_rate": round(achieved, 1),
            "keep_up_ratio": round(achieved / RATE_ROWS_PER_SEC, 4),
            "frontier_lag_sec": round(lag, 3),
            "lag_max_sec": RATE_LAG_MAX_SEC,
            "state_rows": int(state_rows),
            "state_rows_max": _RATE_KEYS,
        }
    )
    row = [
        (
            RATE_ROWS_PER_SEC,
            True,  # multi_batch — ≥2 data micro-batches (sustained sample)
            True,  # met_rate — achieved ≥ 1.0× over the consumed window
            True,  # caught_up — committed frontier within RATE_LAG_MAX_SEC of stop
            True,  # state_bounded — verified above
        )
    ]
    return spark.createDataFrame(
        row,
        "configured_rate bigint, multi_batch boolean, met_rate boolean, "
        "caught_up boolean, state_bounded boolean"
    )


def _events_time_sliced_dir(spark: SparkSession, sf_dir: str, n_files: int) -> str:
    """Stage the events fixture as ``n_files`` TIME-SLICED parquet
    files: range-partitioned on (ts, event_id) so file k's events all
    precede file k+1's, with strictly increasing mtimes so the file
    source's (mtime, path) ordering processes them in that order.
    With maxFilesPerTrigger=1 this makes micro-batch order = event
    time order — the precondition order-SENSITIVE stateful operators
    (transitions) need to be exact. Raw read (no ts conversion), same
    as _events_multi_dir.

    Content-keyed like _events_multi_dir; the mtime ladder survives
    reuse (keyed dirs are exempt from the TTL sweep), so rebuilt only
    when the corpus changes.

    tie-order note: repartitionByRange samples boundaries, so WHICH
    rows share a slice can vary between builds — but every consumer
    orders within-batch by (ts, event_id) or is order-insensitive
    within a timestamp, so slice membership is not value-visible."""
    import glob as _glob

    from odoo_batch_processing_spark.sources.sinks import staged_once

    src = os.path.join(sf_dir, "events.parquet")

    def _build(d):
        (
            spark.read.parquet(src)
            .repartitionByRange(n_files, "ts", "event_id")
            .write.mode("overwrite")
            .parquet(d)
        )
        parts = sorted(_glob.glob(os.path.join(d, "part-*.parquet")))
        base = time.time() - 2 * len(parts)
        for i, f in enumerate(parts):
            os.utime(f, (base + 2 * i, base + 2 * i))

    return staged_once(f"events-sliced-{n_files}", src, _build)


def left_join_staged_src(spark: SparkSession, sf_dir: str) -> str:
    """The left-join run's content-keyed 2-file staged source (full
    corpus + ONE far-future sentinel batch carrying both heartbeat
    horizons, mtime-ordered), built once so bench reps share one
    staging. SCALE.md's trigger-cadence floor table measured a
    zero-work twin over this identical layout.

    r17 trim (VERDICT r16 #4): the +10h and +20h sentinel rows used to
    arrive as two separate files → two separate eviction micro-batches
    (~0.8 s each of full-state scan on a 4-row input). Both horizons
    in ONE batch preserves the semantics exactly — the sentinel batch
    applies the corpus-derived watermark, and the final NO-DATA batch
    applies the +20h-derived watermark, which closes every remaining
    corpus window AND the +10h marker purchase's own window in one
    eviction pass — at one fewer full-state scan."""
    import glob as _glob

    from odoo_batch_processing_spark.sources.sinks import staged_once

    ev = load_table(spark, sf_dir, "events")
    src = os.path.join(sf_dir, "events.parquet")

    def _build(d):
        max_ts = ev.agg(F.max("ts").alias("m")).collect()[0]["m"]

        def _stage(df, name, order):
            sub = os.path.join(d, name)
            df.coalesce(1).write.mode("overwrite").parquet(sub)
            base = time.time() - 100
            for f in _glob.glob(os.path.join(sub, "part-*.parquet")):
                os.utime(f, (base + 10 * order, base + 10 * order))

        def _sentinels(hours, tag):
            from datetime import timedelta

            ts = max_ts + timedelta(hours=hours)
            return [
                (-1 - tag * 2, ts, -1, "purchase", 0.0, None),
                (-2 - tag * 2, ts, -2, "view", 0.0, None),
            ]

        _stage(ev, "b0", 0)
        _stage(
            spark.createDataFrame(_sentinels(10, 0) + _sentinels(20, 1), ev.schema),
            "b1",
            1,
        )

    return staged_once("ssj-left-src-v2", src, _build)


def _q_s_stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join — the semantics the inner form
    (s_stream_stream_join) cannot express: a purchase with NO
    follow-up inside its 30-minute window must still emit, with NULL
    follow, once the watermark proves no match can arrive. Unmatched
    rows only flush when a LATER batch advances the watermark past
    their window, so the source is staged as two mtime-ordered files:
    the full corpus, then one far-future sentinel batch carrying BOTH
    heartbeat horizons (max+10h and max+20h rows). The sentinel batch
    applies the corpus-derived watermark (flushing most unmatched
    purchases); the final no-data micro-batch applies the
    +20h-derived watermark, which closes every remaining corpus
    window and the +10h marker purchase's own window — so the result
    is exactly matches + every unmatched purchase, no
    eviction-boundary dependence, at one fewer full-state eviction
    scan than the r16 three-file form (VERDICT r16 #4). Sentinels use
    negative ids/users (they must PASS the side filters to advance
    both sides' watermarks — watermark stats are post-filter) and are
    dropped after the join. At 100 TB the sentinel rows are the
    standard 'watermark heartbeat' pattern for low-traffic
    partitions.

    The staged directory is CONTENT-KEYED (corpus_fingerprint →
    keyed_scratch_dir, the minhash-index discipline) and built once
    per corpus: re-invocations — bench reps most of all — reuse the
    b0/b1/b2 files and their mtime ordering, skipping the max_ts
    aggregate and three parquet writes that used to re-run every rep
    (~2/3 of this query's round-5 bench cost was re-staging). The
    ``_STAGED`` marker is written only after all three batches land,
    so a torn build is rebuilt, never half-read."""
    ev = load_table(spark, sf_dir, "events")
    d = left_join_staged_src(spark, sf_dir)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/*")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "10 minutes")
    )
    others = (
        stream.filter(F.col("event_type") != "purchase")
        .select(
            F.col("user_id").alias("f_user"),
            F.col("event_id").alias("follow_id"),
            F.col("ts").alias("f_ts"),
        )
        .withWatermark("f_ts", "10 minutes")
    )
    name = _mem_name("s_ssjl")
    q = (
        # keep the PRE-filter stream so the sentinel flush marker below
        # is observable; the public result filters sentinels out
        purchases.join(
            others,
            (purchases.user_id == others.f_user)
            & (F.col("f_ts") >= F.col("p_ts"))
            & (F.col("f_ts") < F.col("p_ts") + F.expr("INTERVAL 30 MINUTES")),
            "left_outer",
        )
        .select("purchase_id", "follow_id")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", _scratch_dir("ssj-left-ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # Outer-join flushes ride watermark ADVANCEMENT, and the final
        # no-data micro-batch that performs the last eviction can
        # commit after processAllAvailable returns (it only waits for
        # data batches). The sentinel-1 purchase is the completion
        # marker: its own unmatched emission requires the sentinel-2
        # watermark, which also flushes every remaining corpus
        # purchase — so once (-1, NULL) is in the sink, the corpus is
        # fully flushed. Poll for it instead of sleeping blind.
        deadline = time.time() + 60
        while time.time() < deadline:
            if (
                spark.table(name).filter(F.col("purchase_id") == -1).count()
                > 0
            ):
                break
            time.sleep(0.1)
            q.processAllAvailable()
        else:
            raise AssertionError(
                "left-outer flush marker (sentinel purchase) never emitted"
            )
    finally:
        q.stop()
    return (
        spark.table(name)
        .filter(F.col("purchase_id") >= 0)
        .select("purchase_id", "follow_id")
    )


def _q_s_x7_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the batch transition matrix
    (operators/windows._q_event_transitions): per-user last-event
    state pairs each event with its successor across micro-batches
    (stateful.transitions_stream), over a time-sliced one-file-per-
    trigger source so batch order is event-time order. The appended
    pair stream is aggregated to the same (from, to, n, p) relation —
    and certified against the SAME exact oracle as the batch form."""
    from odoo_batch_processing_spark.streaming.stateful import transitions_stream

    d = _events_time_sliced_dir(spark, sf_dir, _N_BATCH_FILES)
    stream = change_source(spark, d, max_files_per_trigger=1)
    name = _mem_name("s_trans")
    q = (
        transitions_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    from odoo_batch_processing_spark.operators.windows import transition_matrix

    return transition_matrix(spark.table(name))


QUERIES = {
    name: _with_stream_shuffle(fn)
    for name, fn in {
        "s_stream_stream_join": _q_s_stream_stream_join,
        "s_r22_change_counts": _q_s_r22_change_counts,
        "s_x7_stream_hourly": _q_s_x7_stream_hourly,
        "s_r18_throttled_update": _q_s_r18_throttled_update,
        "s_r17_progress": _q_s_r17_progress,
        "s_r19_cancel": _q_s_r19_cancel,
        "s_stateful_totals": _q_s_stateful_totals,
        "s_stream_stream_left_join": _q_s_stream_stream_left_join,
        "s_x2_stream_dedup_wm": _q_s_x2_stream_dedup_wm,
        "s_x7_transitions": _q_s_x7_transitions,
        # streaming sessionization: real capability, but its windowing
        # surface is already driver-covered by s_x7_stream_hourly
        # (streaming windows) + x7_sessionize (session semantics); kept
        # oracle-checked in the extended tier
        "s_session_window": _q_s_session_window,
        "s_x3_stream_incremental_neardup": _q_s_x3_stream_incremental_neardup,
        "s_x4_stream_index_probe": _q_s_x4_stream_index_probe,
        "s_x2_stream_dedup": _q_s_x2_stream_dedup,
        "s_stream_static_join": _q_s_stream_static_join,
        "s_merge_upsert": _q_s_merge_upsert,
        # deterministic gate-boolean form; the measured timings land in
        # LAST_RATE_RECEIPT
        "s_rate_throughput": _q_s_rate_throughput,
        # R22 twin of s_r22_change_counts on the manifest protocol
        "s_r22_manifest_counts": _q_s_r22_manifest_counts,
    }.items()
}

ORACLES = {
    # stream-stream join result == the batch range join (single batch,
    # nothing evicted before the data arrives)
    "s_stream_stream_join": """
        SELECT p.event_id AS purchase_id, o.event_id AS follow_id
        FROM events p JOIN events o
          ON p.user_id = o.user_id
         AND p.event_type = 'purchase' AND o.event_type <> 'purchase'
         AND o.ts >= p.ts AND o.ts < p.ts + INTERVAL '30 minutes'
    """,
    "s_r22_change_counts": """
        SELECT event_type, COUNT(1) AS n FROM events GROUP BY 1
    """,
    "s_x7_stream_hourly": """
        SELECT date_trunc('hour', ts) AS hour_start,
               event_type,
               COUNT(1) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2
    """,
    "s_r18_throttled_update": """
        SELECT event_id,
               CASE WHEN value > 50.0 AND NOT (event_type = 'error')
                    THEN 'bulk' ELSE event_type END AS event_type
        FROM events
    """,
    # s_r17_progress: 4-file staging + maxFilesPerTrigger=1 → exactly 4
    # data batches whose pct sequence is monotone and ends at 100
    "s_r17_progress": """
        SELECT CAST(4 AS BIGINT) AS n_batches,
               COUNT(1) AS rows_seen,
               CAST(100 AS INTEGER) AS final_pct,
               TRUE AS pct_monotone
        FROM events
    """,
    # s_r19_cancel: the run-level contract is deterministic (exactly one
    # of four batches commits) even though WHICH file lands first is not
    "s_r19_cancel": """
        SELECT TRUE AS cancelled,
               'cancelled' AS outcome,
               TRUE AS partial_commit,
               TRUE AS accounting_consistent
    """,
    "s_stateful_totals": """
        SELECT user_id,
               COUNT(1) AS n_events,
               MIN(event_id) AS min_event_id,
               MAX(event_id) AS max_event_id
        FROM events GROUP BY user_id
    """,
    # every boolean is backed by an in-query raise, so the run either
    # throws (driver-visible err) or emits exactly this row; the
    # nondeterministic measurements live in LAST_RATE_RECEIPT
    "s_rate_throughput": """
        SELECT CAST(1000 AS BIGINT) AS configured_rate,
               TRUE AS multi_batch,
               TRUE AS met_rate,
               TRUE AS caught_up,
               TRUE AS state_bounded
    """,
    # final upserted state: every purchase incremented exactly ONCE
    # (+100 over its pre-merge value — target value for even ids,
    # source value for odd inserts, which are equal by construction),
    # union the untouched non-purchase half of the seed. A failed
    # replay guard would add +200 and hash-mismatch here.
    "s_merge_upsert": """
        WITH final AS (
            SELECT event_id, event_type, value + 100.0 AS value
            FROM events WHERE event_type = 'purchase'
            UNION ALL
            SELECT event_id, event_type, value
            FROM events WHERE event_id % 2 = 0 AND event_type <> 'purchase'
        )
        SELECT event_type, COUNT(1) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM final GROUP BY event_type
    """,
    # stream-static enrichment == the batch join (single static dim,
    # inner join — arrival order cannot change the aggregate)
    "s_stream_static_join": """
        SELECT c_mktsegment,
               CAST(COUNT(1) AS BIGINT) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY c_mktsegment
    """,
    # the streamed probe must union to EXACTLY the batch incremental
    # result — same oracle text as core x3_incremental_neardup (bound
    # below after the dedup module's oracles are importable)
    # cross-batch dedup state: two identical copies in, one distinct
    # fingerprint set out
    "s_x2_stream_dedup": r"""
        SELECT DISTINCT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        FROM documents
    """,
    # watermark-bounded dedup: duplicates land either as late rows
    # (below watermark) or live-state hits — both dropped, so the
    # appended set is exactly the distinct (unique) event ids
    "s_x2_stream_dedup_wm": """
        SELECT DISTINCT event_id FROM events
    """,
    # left-outer == the batch left range join once the sentinel
    # batches have flushed every unmatched purchase
    "s_stream_stream_left_join": """
        SELECT p.event_id AS purchase_id, o.event_id AS follow_id
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        LEFT JOIN (SELECT * FROM events WHERE event_type <> 'purchase') o
          ON p.user_id = o.user_id
         AND o.ts >= p.ts AND o.ts < p.ts + INTERVAL '30 minutes'
    """,
    # session_window(30min): session end = last event + gap. Verified
    # empirically: Spark MERGES an event arriving exactly gap after the
    # previous one (adjacent half-open windows coalesce), so the gap
    # test is strictly >, same as the lag-based x7_sessionize.
    "s_session_window": """
        WITH flagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR (epoch(ts) - epoch(lag(ts) OVER w)) / 60.0 > 30
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), numbered AS (
            SELECT user_id, ts,
                   SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
            FROM flagged
        )
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) + INTERVAL '30 minutes' AS session_end,
               COUNT(1) AS n_events
        FROM numbered GROUP BY user_id, sid
    """,
}

# bound here (not in the dict literal) to reuse the dedup module's
# oracle verbatim: the streamed probe's contract IS "unions to the
# batch incremental result".
from odoo_batch_processing_spark.operators import dedup as _dedup  # noqa: E402

ORACLES["s_x3_stream_incremental_neardup"] = _dedup.ORACLES["x3_incremental_neardup"]

# order-sensitive stateful streaming under the EXACT batch oracle —
# the time-sliced staging makes the contract "identical to the batch
# lead-window transition matrix", so reuse that SQL verbatim
from odoo_batch_processing_spark.operators import windows as _win  # noqa: E402

ORACLES["s_x7_transitions"] = _win.ORACLES["x7_event_transitions"]

# streamed standing-IVF probe: the contract is "unions to the batch
# indexed-multiprobe result exactly", so reuse that SQL verbatim
from odoo_batch_processing_spark.operators import similarity as _sim  # noqa: E402

ORACLES["s_x4_stream_index_probe"] = _sim.ORACLES["x4_ivf_indexed_multiprobe"]

# the manifest-fed R22 form must reproduce the full events counts
ORACLES["s_r22_manifest_counts"] = ORACLES["s_r22_change_counts"]
