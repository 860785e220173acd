"""Streaming trigger-cadence floor probe (VERDICT r10 #3 and #5).

The streaming family is ~35% of the bench headline and carries nearly
all its round-over-round noise. This probe separates what each core
streaming query pays for its MICRO-BATCH MACHINERY (source listing,
trigger scheduling, state-store/sink commits, memory-sink writes —
the "floor") from its actual compute, by running a **zero-work twin**
per streaming shape: the identical source file layout, trigger
settings, checkpoint usage and sink/output mode, with the
transformation reduced to a trivial projection (or the minimal
aggregate the output mode requires). floor/query ≈ 1 means the query
is cadence-bound: its round-over-round swings are scheduler jitter,
not plan changes, and no plan work can speed it up — only trigger
cadence or state-store knobs.

Parallelism axis (VERDICT r10 #5): every certified scale axis varies
DATA; none varied executor parallelism, and trigger-cadence floors
are the one cost class where local[32] could mask a hazard (one
state-store instance per shuffle partition per operator ticks every
micro-batch). Run the probe twice::

    python tools/streaming_floors.py                   # local[32]
    SPARK_GRAFT_CPUS=8 python tools/streaming_floors.py  # local[8]

Each run writes ``STREAM_FLOORS_cpus{N}.json`` at the repo root:
``{cpus, sf, reps, floors: {floor: sec}, queries: {q: sec},
mapping: {q: floor}, floor_share: {q: floor/query}}`` (min-of-reps,
same rule as bench.py). Streaming queries run under the same
STREAM_SHUFFLE_PARTITIONS=8 override the catalog applies.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from pyspark.sql import DataFrame, SparkSession, functions as F  # noqa: E402

#: which floor twin decomposes which core streaming query
MAPPING = {
    # the manifest-fed R22 twin: its cadence floor is the 4-trigger
    # one (4 manifest entries at maxFilesPerTrigger=1, pump-driven on
    # the JVM spool), the closest twin — the complete-mode re-emit
    # adds a few ms on 5 output rows.
    "s_r22_manifest_counts": "floor_multi4_append",
    "s_x7_stream_hourly": "floor_single_complete",
    "s_stateful_totals": "floor_single_append",
    "s_r18_throttled_update": "floor_foreach_availnow",
    "s_r17_progress": "floor_multi4_append",
    "s_r19_cancel": "floor_trigger_cancel",
    "s_x2_stream_dedup_wm": "floor_2file_append_ckpt",
    "s_stream_stream_join": "floor_dual_stream_append_ckpt",
    "s_stream_stream_left_join": "floor_leftjoin_2file_append_ckpt",
    # the streaming incremental near-dup (3 staged files
    # at maxFilesPerTrigger=1, foreachBatch + checkpoint) — the
    # 3-trigger checkpoint-commit floor is the closest twin; the
    # foreachBatch probe work on top of it is the query's real cost.
    "s_x3_stream_incremental_neardup": "floor_3file_foreach_ckpt",
}


def _drain_memory_sink(spark: SparkSession, q, name: str) -> DataFrame:
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def floor_single_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One micro-batch over the single-file events source, append to a
    memory sink, projection only — the absolute streaming floor."""
    from odoo_batch_processing_spark.streaming.queries import _events_dir, _mem_name
    from odoo_batch_processing_spark.streaming.sources import change_source

    name = _mem_name("fl_sa")
    q = (
        change_source(spark, _events_dir(sf_dir))
        .select("event_id")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    return _drain_memory_sink(spark, q, name)


def floor_single_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same single-batch source, complete-mode memory sink with the
    minimal aggregate that mode requires (global count) — the floor
    under the complete-mode agg queries (r22, x7_hourly)."""
    from odoo_batch_processing_spark.streaming.queries import _events_dir, _mem_name
    from odoo_batch_processing_spark.streaming.sources import change_source

    name = _mem_name("fl_sc")
    q = (
        change_source(spark, _events_dir(sf_dir))
        .groupBy()
        .agg(F.count(F.lit(1)).alias("n"))
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    return _drain_memory_sink(spark, q, name)


def floor_multi4_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4 real micro-batches (maxFilesPerTrigger=1 over the same 4-file
    staging s_r17_progress uses), trivial projection — the multi-batch
    cadence floor, no listener machinery."""
    from odoo_batch_processing_spark.streaming.queries import (
        _N_BATCH_FILES,
        _events_multi_dir,
        _mem_name,
    )
    from odoo_batch_processing_spark.streaming.sources import change_source

    src = _events_multi_dir(spark, sf_dir, _N_BATCH_FILES)
    name = _mem_name("fl_m4")
    q = (
        change_source(spark, src, max_files_per_trigger=1)
        .select("event_id")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    return _drain_memory_sink(spark, q, name)


def floor_foreach_availnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """availableNow foreachBatch writing a 1-column parquet — the
    trigger+sink skeleton of ThrottledBulkUpdate with the update logic
    removed."""
    from odoo_batch_processing_spark.sources.sinks import scratch_dir
    from odoo_batch_processing_spark.streaming.queries import _events_dir
    from odoo_batch_processing_spark.streaming.sources import change_source

    out = scratch_dir("fl-fb-out")

    def _sink(batch_df, _bid):
        batch_df.select("event_id").write.mode("append").parquet(out)

    q = (
        change_source(spark, _events_dir(sf_dir))
        .writeStream.foreachBatch(_sink)
        .option("checkpointLocation", scratch_dir("fl-fb-ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out).select("event_id")


def floor_trigger_cancel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s_r19_cancel's cadence skeleton: 4-file source at 1 file per
    30 s trigger, stop as soon as the first data batch commits — the
    poll/stop/await machinery with no update or accounting."""
    from odoo_batch_processing_spark.streaming.queries import (
        _N_BATCH_FILES,
        _events_multi_dir,
        _mem_name,
    )
    from odoo_batch_processing_spark.streaming.sources import change_source

    src = _events_multi_dir(spark, sf_dir, _N_BATCH_FILES)
    name = _mem_name("fl_tc")
    q = (
        change_source(spark, src, max_files_per_trigger=1)
        .select("event_id")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(processingTime="30 seconds")
        .start()
    )
    deadline = time.time() + 120
    try:
        while time.time() < deadline:
            p = q.lastProgress
            if p and p.get("numInputRows", 0) > 0:
                break
            time.sleep(0.02)
    finally:
        q.stop()
    return spark.table(name)


def floor_2file_append_ckpt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two micro-batches over the SAME 2-copy staging the watermarked
    dedup uses (shared staged_once key), checkpointed append, trivial
    projection — the dedup run minus watermark + state store."""
    from odoo_batch_processing_spark.sources.loader import load_table
    from odoo_batch_processing_spark.sources.sinks import scratch_dir, staged_once
    from odoo_batch_processing_spark.streaming.queries import _mem_name

    corpus = os.path.join(sf_dir, "events.parquet")
    ev = load_table(spark, sf_dir, "events")

    def _build(d):
        ev.coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "copy=1"))
        ev.coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "copy=2"))

    src = staged_once("x2wm-stream-src", corpus, _build)
    name = _mem_name("fl_2f")
    q = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
        .select("event_id")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", scratch_dir("fl-2f-ckpt"))
        .start()
    )
    return _drain_memory_sink(spark, q, name)


def floor_leftjoin_2file_append_ckpt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two mtime-ordered micro-batches over the IDENTICAL staged
    source the left-outer join reads (corpus + the merged sentinel
    batch, r17 layout), checkpointed append, trivial projection — the
    left join minus join state, watermark eviction and the
    sentinel-flush wait."""
    from odoo_batch_processing_spark.sources.loader import load_table
    from odoo_batch_processing_spark.sources.sinks import scratch_dir
    from odoo_batch_processing_spark.streaming.queries import (
        _mem_name,
        left_join_staged_src,
    )

    ev = load_table(spark, sf_dir, "events")
    d = left_join_staged_src(spark, sf_dir)
    name = _mem_name("fl_2f")
    q = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/*")
        .select("event_id")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", scratch_dir("fl-2f-ckpt"))
        .start()
    )
    return _drain_memory_sink(spark, q, name)


def floor_3file_foreach_ckpt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three mtime-ordered micro-batches over the IDENTICAL staged
    source the x3 stream reads (top decile across three document
    files), checkpointed foreachBatch with a trivial per-epoch count —
    the x3 stream minus the probe pipeline and the per-epoch sink
    write. Split out of the old shared floor_3file_append_ckpt (r17):
    the left join dropped to a 2-file layout, and sharing its floor
    would under-count this query's cadence by one trigger."""
    from odoo_batch_processing_spark.schemas import SCHEMAS
    from odoo_batch_processing_spark.sources.sinks import scratch_dir
    from odoo_batch_processing_spark.streaming.queries import x3_stream_staged_src

    d = x3_stream_staged_src(spark, sf_dir)
    seen = []

    def _noop(batch_df, epoch_id):
        seen.append((int(epoch_id), batch_df.count()))

    q = (
        spark.readStream.schema(SCHEMAS["documents"])
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
        .writeStream.foreachBatch(_noop)
        .option("checkpointLocation", scratch_dir("fl-3ff-ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.createDataFrame(seen or [(-1, 0)], "epoch int, n bigint")


def floor_dual_stream_append_ckpt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two readers over the events dir (the stream-stream join's source
    shape), both side-filters and projections applied, UNION instead of
    join — everything the inner join pays except join state."""
    from odoo_batch_processing_spark.sources.sinks import scratch_dir
    from odoo_batch_processing_spark.streaming.queries import _events_dir, _mem_name
    from odoo_batch_processing_spark.streaming.sources import change_source

    src = _events_dir(sf_dir)
    purchases = (
        change_source(spark, src)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("id"))
    )
    others = (
        change_source(spark, src)
        .filter(F.col("event_type") != "purchase")
        .select(F.col("event_id").alias("id"))
    )
    name = _mem_name("fl_ds")
    q = (
        purchases.unionByName(others)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", scratch_dir("fl-ds-ckpt"))
        .start()
    )
    return _drain_memory_sink(spark, q, name)


FLOORS = {
    f.__name__: f
    for f in (
        floor_single_append,
        floor_single_complete,
        floor_multi4_append,
        floor_foreach_availnow,
        floor_trigger_cancel,
        floor_2file_append_ckpt,
        floor_leftjoin_2file_append_ckpt,
        floor_3file_foreach_ckpt,
        floor_dual_stream_append_ckpt,
    )
}


#: state-store providers (same classes the recovery certification
#: runs under, tests/test_streaming_recovery.py): hdfs is Spark's
#: default, rocksdb is the 100 TB production provider. ``--provider
#: rocksdb`` re-runs the identical floor/query matrix with the
#: provider pinned and writes STREAM_FLOORS_rocksdb.json — the cost-
#: profile posture run (VERDICT r11 #4): flat vs the HDFS artifact
#: means the production provider is a config-only swap at scale; a
#: cliff is a documented knob.
PROVIDERS = {
    "hdfs": (
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider"
    ),
    "rocksdb": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
}


def main() -> int:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--provider",
        choices=sorted(PROVIDERS),
        default=None,
        help="pin a state-store provider; output becomes "
        "STREAM_FLOORS_{provider}.json instead of the cpus-keyed file",
    )
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))

    from bench import drain
    from odoo_batch_processing_spark.registry import all_queries
    from odoo_batch_processing_spark.session import get_spark, release_materialized
    from odoo_batch_processing_spark.streaming.queries import (
        STREAM_SHUFFLE_PARTITIONS,
        _with_stream_shuffle,
    )

    spark = get_spark("stream-floors", cpus=cpus, shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    if args.provider:
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            PROVIDERS[args.provider],
        )

    queries = {
        n: f for n, f in all_queries().items() if n in MAPPING
    }
    missing = sorted(set(MAPPING) - set(queries))
    if missing:
        raise SystemExit(f"core catalog lost streaming queries: {missing}")

    def _time(fn) -> float:
        runs = []
        for _ in range(reps):
            release_materialized()
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            drain(fn(spark, sf_dir))
            runs.append(time.perf_counter() - t0)
        return round(min(runs), 4)

    # warm the session once so floor rep 1 isn't the JVM warmup
    drain(floor_single_append(spark, sf_dir))

    floors = {n: _time(_with_stream_shuffle(f)) for n, f in sorted(FLOORS.items())}
    q_times = {n: _time(f) for n, f in sorted(queries.items())}

    share = {
        q: round(floors[MAPPING[q]] / q_times[q], 3) if q_times[q] else None
        for q in sorted(queries)
    }
    for q in sorted(queries):
        print(
            f"{q:<28} query={q_times[q]:>7.3f}s  floor={floors[MAPPING[q]]:>7.3f}s"
            f"  ({MAPPING[q]}, share={share[q]})",
            file=sys.stderr,
        )
    payload = {
        "cpus": cpus,
        "sf": sf_dir,
        "reps": reps,
        "stat": "min",
        "stream_shuffle_partitions": STREAM_SHUFFLE_PARTITIONS,
        "state_store_provider": args.provider or "hdfs-default",
        "floors": floors,
        "queries": q_times,
        "mapping": MAPPING,
        "floor_share": share,
    }
    out = os.path.join(
        REPO_ROOT,
        f"STREAM_FLOORS_{args.provider}.json"
        if args.provider
        else f"STREAM_FLOORS_cpus{cpus}.json",
    )
    with open(out, "w") as fh:
        json.dump(payload, fh, indent=1)
        fh.write("\n")
    print(json.dumps(payload, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
