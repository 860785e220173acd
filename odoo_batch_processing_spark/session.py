"""SparkSession construction and engine-wide runtime configuration.

Two entry paths exist:

* our own tests / bench build a session via :func:`get_spark`;
* the driver harness hands us an already-built session (``entry(spark)``
  in ``__spark_entry__.py``), so everything that MUST hold for
  correctness is applied idempotently by :func:`configure`, which every
  loader call routes through.

Settings rationale (100 TB posture, tested on local mode):

* ``spark.sql.adaptive.enabled`` — AQE re-plans joins/shuffles at
  runtime: skew-join splitting and dynamic coalescing are the first
  line of defense at 1000-executor scale.
* ``spark.sql.session.timeZone=UTC`` — parquet timestamps in the
  fixtures are naive wall-clock; DuckDB (the correctness oracle) treats
  them as UTC-naive. Pinning UTC makes collected values bit-identical.
* ``spark.sql.legacy.parquet.nanosAsLong=true`` — the ``events`` table
  stores TIMESTAMP(NANOS), which Spark 4 refuses to read natively
  ([PARQUET_TYPE_ILLEGAL]). We read ns as int64 and convert with
  ``timestamp_micros(ts div 1000)`` (floor), exactly matching DuckDB's
  ns→µs truncation.
* shuffle partitions default to the local core count — 200 would
  over-parallelize the local runs; real deployments override via
  ``spark.sql.shuffle.partitions`` at submit time.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

from pyspark.sql import SparkSession

#: Confs that are safe (and required) to set on a running session.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Never emit legacy INT96 timestamps: INT96 is deprecated, skips
    # vectorized-reader fast paths in other engines, and is physically
    # untyped (pyarrow surfaces it as timestamp[ns]), which breaks
    # footer-based unit probes like loader.events_ts_unit. MICROS is
    # what the fixtures use and what DuckDB/Spark agree on exactly.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Unfiltered MIN/MAX/COUNT aggregates answer from parquet footer
    # statistics instead of scanning data pages (off by default in
    # Spark; exact — footer stats are not estimates). Only the DSv2
    # read path honors it; the engine keeps parquet on V1 by default
    # (bucketed zero-shuffle joins are V1-only), so this activates
    # through loader.stats_probe, which takes a V2 read just for
    # metadata-only aggregates.
    "spark.sql.parquet.aggregatePushdown": "true",
    # 64 MB: dims up to supplier-at-sf100 stay broadcast; anything
    # bigger falls to shuffle joins that AQE can still re-plan. Set
    # here (runtime-settable) so driver-provided sessions get the same
    # join-strategy envelope as get_spark() sessions.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Streaming checkpoints (offset/commit logs, the file source's
    # seen-files log, state-store deltas) through the FileSystem API.
    # Without the native Hadoop library, the default FileContext
    # manager has Hadoop launch a `chmod` process per checkpoint file
    # created and a `readlink` process per rename. Safe: every
    # checkpoint the package writes is a local .scratch or Spark temp
    # dir, where rename(2) is atomic, and Spark falls back to this
    # manager itself when FileContext is unavailable. configure()
    # applies it to every engine session, including harness-built ones.
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
    # No Python call-site capture per Column. At the default (true)
    # every Column function adds about 9 py4j round trips (two active-
    # session lookups, a PySparkCurrentOrigin class lookup, a conf
    # read, set, clear) plus a Python stack walk: most of the driver-
    # side cost of a change-feed micro-batch. Lost: the Python
    # file:line in an error's DataFrame query context; the error class
    # and message stay. PySpark reads the value once per process, at
    # the first Column call, so configure() on a harness-built session
    # that has already built a Column does not turn capture off;
    # get_spark sets it at build time.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def configure(spark: SparkSession) -> SparkSession:
    """Idempotently apply the runtime confs the engine depends on.

    Called by every loader so correctness holds even when the session
    was built by an external harness with different defaults.
    """
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:  # pragma: no cover - immutable conf on some builds
            pass
    return spark


#: Set to 1/true for cluster runs: every lineage cut becomes a RELIABLE
#: checkpoint (written to the fault-tolerant checkpoint dir) instead of
#: a localCheckpoint.
RELIABLE_CHECKPOINT_ENV = "SPARK_GRAFT_RELIABLE_CHECKPOINT"
CHECKPOINT_DIR_ENV = "SPARK_GRAFT_CHECKPOINT_DIR"


def truncate_lineage(df):
    """Cut the logical lineage of an iterative / reused DataFrame
    (chain as ``df.transform(truncate_lineage)``).

    Default is ``localCheckpoint``: blocks live in executor storage,
    no distributed-FS round-trip — the right speed trade-off
    single-node and for restartable batch jobs. Its cost on a real
    cluster: the blocks are NOT fault-tolerant, so losing one executor
    makes every downstream stage unrecoverable and kills the job.

    For cluster runs where that is unacceptable (long CC iterations,
    spot/preemptible executors), set ``SPARK_GRAFT_RELIABLE_CHECKPOINT=1``:
    cuts become reliable ``checkpoint()`` writes to the checkpoint dir
    (``SPARK_GRAFT_CHECKPOINT_DIR``, which on a cluster must be shared
    storage, e.g. an HDFS/S3 path; defaults to a local temp dir) —
    slower by one write+read per cut, identical results. Flag is read
    per cut, so one process can compare both paths
    (tests/test_checkpoint_modes.py proves result equality).
    """
    if os.environ.get(RELIABLE_CHECKPOINT_ENV, "").lower() in ("1", "true", "yes"):
        sc = df.sparkSession.sparkContext
        env_dir = os.environ.get(CHECKPOINT_DIR_ENV)
        current = sc.getCheckpointDir()
        if env_dir:
            # the env var always wins: a stale dir set earlier in the
            # session (e.g. the temp fallback below) must not silently
            # swallow a later request to checkpoint to shared storage —
            # that would put "reliable" checkpoints on local disk
            if current is None or not current.rstrip("/").endswith(
                env_dir.rstrip("/").removeprefix("file:")
            ):
                sc.setCheckpointDir(env_dir)
        elif current is None:
            import tempfile

            sc.setCheckpointDir(tempfile.mkdtemp(prefix="spark-graft-ckpt-"))
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


#: every DataFrame pinned by :func:`materialize_once`, so callers can
#: release them without knowing which queries persisted what.
#: ENGINE CONTRACT (VERDICT r15 #6, decided): this is a single-driver-
#: thread registry — scopes (:func:`materialized_scope`) must be
#: entered and exited on one thread, nested or sequential but never
#: interleaved across threads. Registry MUTATIONS are nonetheless
#: lock-guarded below, so a violation of the contract degrades to a
#: value-safe early release (the pinned plans are pure recomputable
#: intermediates — a late reader recomputes), never to a corrupted
#: list or a double-unpersist crash. Concurrent multi-stream engines
#: should clone sessions per stream (see materialized_scope docstring).
_MATERIALIZED: list = []
_MATERIALIZED_LOCK = threading.Lock()


def materialize_once(df):
    """Barrier for a fan-out intermediate consumed by several plan
    branches (chain as ``df.transform(materialize_once)``): persist
    MEMORY_AND_DISK, so (a) the expensive computation below it runs
    once, not per branch, and (b) the InMemoryRelation stops Catalyst's
    project-collapse from inlining that computation into every
    downstream expression (the k× re-tokenization failure mode).

    Deliberately NOT a checkpoint: lineage is retained, so an executor
    loss just recomputes the lost blocks — strictly better fault
    behavior than localCheckpoint for a pure recomputable intermediate,
    and no eager block-store write job (measured: the eager
    localCheckpoint at these sites stalled 4-25 s under block-manager /
    host-I/O pressure where persist stays flat). Use
    :func:`truncate_lineage` only where the lineage itself must be cut:
    iterative loops (CC, k-means) and self-overwrite guards.

    LIFETIME CONTRACT: nothing here unpersists. A caller that runs
    several catalog queries in one session must release the pinned
    blocks between queries — either :func:`release_materialized`
    (unpins exactly what this function pinned, in order) or the
    blunter ``spark.catalog.clearCache()``; the repo's own harnesses
    (oracle_check / bench / axis_ladder) do both between queries.
    Skipping the release leaks MEMORY_AND_DISK blocks for the session
    lifetime, one per materialized intermediate per query run.
    """
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK_DESER)
    with _MATERIALIZED_LOCK:
        _MATERIALIZED.append(df)
    return df


def release_materialized(blocking: bool = False) -> int:
    """Unpersist every DataFrame :func:`materialize_once` pinned since
    the last release; returns how many were released. Safe to call at
    any point (already-unpersisted entries no-op) — the per-query
    teardown for direct library callers that don't want to nuke the
    whole cache with ``clearCache()``."""
    released = 0
    while True:
        with _MATERIALIZED_LOCK:
            if not _MATERIALIZED:
                break
            df = _MATERIALIZED.pop()
        try:
            df.unpersist(blocking)
            released += 1
        except Exception:
            pass  # session already stopped — nothing left to unpin
    return released


@contextmanager
def materialized_scope(blocking: bool = False):
    """Scope the pins :func:`materialize_once` takes inside the body:
    on exit, unpersist exactly the DataFrames pinned since entry,
    leaving earlier (caller-owned) pins alone.

    This is the per-micro-batch release for long-running foreachBatch
    loops (review r14 #4): a probe that pins N intermediates per batch
    would otherwise grow the block store by N blocks per trigger for
    the stream's lifetime — the blanket :func:`release_materialized`
    is wrong there because it would also unpin relations the ENCLOSING
    query materialized and still reads. Unpersist-after-consume is
    safe by construction: the pinned plans are pure recomputable
    intermediates, so a late reader merely recomputes.

    Concurrency caveat: the registry is a plain module-level list, so
    scopes are for the engine's actual usage — one foreachBatch loop
    per streaming query, each scope entered and exited on the same
    thread, scopes nested or sequential but never interleaved across
    threads. Two OVERLAPPING scopes on different threads could release
    each other's pins early; that is value-safe (pure recomputable
    intermediates — worst case a recompute) but defeats the pin, so
    concurrent streams should each use their own SparkSession-cloned
    engine or accept the recompute."""
    with _MATERIALIZED_LOCK:
        mark = len(_MATERIALIZED)
    try:
        yield
    finally:
        with _MATERIALIZED_LOCK:
            scoped, _MATERIALIZED[mark:] = _MATERIALIZED[mark:], []
        for df in scoped:
            try:
                df.unpersist(blocking)
            except Exception:
                pass  # session already stopped — nothing left to unpin


def _default_driver_heap_gb() -> int:
    """Driver heap when ``SPARK_GRAFT_DRIVER_MEM`` is unset: half of
    the host's physical memory (``MemTotal``) in whole GB, at least 1,
    so a local session cannot grow past what the machine has."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return max(1, int(line.split()[1]) // (2 << 20))
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def get_spark(
    app_name: str = "odoo-batch-processing-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a local-mode session sized to this machine:
    ``local[cpus]`` (``SPARK_GRAFT_CPUS``, else the core count) and a
    driver heap of ``SPARK_GRAFT_DRIVER_MEM``, else
    :func:`_default_driver_heap_gb`."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4)))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{_default_driver_heap_gb()}g"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # GC'd RDDs drop their reliable-checkpoint files too — without
        # this every CC/k-means iteration leaves a checkpoint copy on
        # disk for the session lifetime (context conf: build-time only)
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    for key, value in (extra_confs or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return configure(spark)
