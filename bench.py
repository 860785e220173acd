#!/usr/bin/env python
"""Benchmark runner: every registered query at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The per-query number is wall-clock for plan construction + execution,
drained via a value-forcing aggregate (see ``drain``) so projection
pruning can't optimize a query's expressions out of the measurement;
nothing is collected to the driver. One warm SparkSession is shared —
the driver's metric is query latency, not JVM startup.
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import sys
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)


def drain(df) -> int:
    """Execute a query DataFrame so that EVERY output column is
    computed; returns the row count.

    ``count()`` is not enough: Catalyst prunes unreferenced
    projections, so a pure per-row query (``x6_json_extract``,
    ``x5_text_features``) would "bench" as a bare scan count with its
    expressions optimized away — verified round 8 (`from_json`/`split`
    absent from the count() executed plan). The
    ``bit_xor(xxhash64(...))`` aggregate forces every column in one
    pass without collecting rows to the driver. Map/variant columns
    (xxhash64 can't consume them) are forced through their JSON text.

    The CALIBRATION workload deliberately does NOT use this drain: its
    count()-drained wall time is the frozen host-speed yardstick and
    must never re-base.
    """
    from pyspark.sql import functions as F  # noqa: PLC0415

    # positional rename first: F.col(name), df[name], and even df[i]
    # all resolve BY NAME and parse dots in auto-generated names
    # (`percentile(x, 0.5)`) as struct-field access; toDF renames
    # positionally with no resolution (tests/test_drain.py pins this)
    df = df.toDF(*[f"_c{i}" for i in range(len(df.columns))])
    hashable = []
    for field in df.schema.fields:
        col = F.col(field.name)
        if _unhashable(field.dataType):
            # xxhash64 rejects MapType/VariantType at ANY nesting depth
            # (array<map>, struct-with-map included); their JSON text is
            # the forced value instead. Any type that can CONTAIN a map
            # is struct/array/map/variant, all of which to_json accepts.
            col = F.to_json(col)
        hashable.append(col)
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*hashable)).alias("h"),
    ).collect()[0]
    return row["n"]


def _unhashable(dt) -> bool:
    """True if ``dt`` contains a MapType or VariantType anywhere —
    xxhash64 rejects both at any nesting depth, not just top-level."""
    from pyspark.sql import types as T  # noqa: PLC0415

    if isinstance(dt, T.MapType) or dt.typeName() == "variant":
        return True
    if isinstance(dt, T.ArrayType):
        return _unhashable(dt.elementType)
    if isinstance(dt, T.StructType):
        return any(_unhashable(f.dataType) for f in dt.fields)
    return False


def calibration_df(spark, sf_dir: str):
    """The FROZEN calibration workload: lineitem scan →
    groupBy(l_returnflag) count/sum. Its min-of-reps wall time is
    ``calibration_sec`` in BENCH_LAST.json, the host-speed yardstick
    that sits beside the headline and that the pre-flight judges
    against ``HEALTHY_WINDOW``. That reference only holds if this plan
    NEVER changes: tests/test_bench_calibration.py pins the analyzed
    plan against a stored fingerprint, so any edit here (or a Spark
    upgrade changing the plan) fails loudly instead of silently
    re-basing the yardstick."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("l_quantity").alias("sq"),
    )


#: Healthy-window reference points for the pre-flight gate, which
#: spends ~10 s up front to tell a degraded host apart before the
#: suite's 250 query executions are spent on it. Provenance (all
#: sf0.1 / local[32], SCALE.md round 11): cpu = best healthy
#: calibrations (0.1889, 0.1914); io = best 0.1215; floors =
#: SCALE.md's round-11 floor table (floor_single_append 0.5188,
#: floor_2file_append_ckpt 1.075 — the plain-cadence and
#: checkpoint-commit cost classes). A probe exceeding
#: ref × DEGRADED_FACTOR labels the artifact ``window: degraded``:
#: the artifact still records everything, but its timings must not be
#: compared with a healthy window's. References only apply at the
#: driver config (sf0.1 / 32 cpus); other configs get
#: ``window: unknown``.
#:
#: Factor calibration: the two known-healthy cpu yardsticks sit
#: within ±2% of the reference (0.1889 / 0.1914), while the round-11
#: driver window the verdict had to adjudicate degraded BY HAND sat
#: at ratio 1.21 (0.2301) — ×1.3 would have missed it, so the gate
#: uses ×1.2: generous against same-window jitter, tight enough to
#: catch every window round 11 actually called degraded (the six-run
#: cpu ledger 0.2497/0.2134/0.2667/0.1914/0.2381/0.2832 classifies
#: d/h/d/h/d/d).
#: Floor refs are PROTOCOL-BOUND (round 12): the pre-flight measures
#: its twins shallow-warm (fresh session, one batch + one streaming
#: warmup, 3 reps), while SCALE.md's floor table measured them
#: deep-warm (6th floor into a long floors session) — a decomposition
#: probe localized the whole gap to processAllAvailable converging
#: with warmup depth (0.82 → 0.57 over 7 same-session executions).
#: The round-11 table values (0.52/1.08) are therefore a different
#: quantity; these refs are three fresh-session runs of the exact
#: pre-flight protocol on a window with cpu ratio 1.005 / io 0.86
#: (best-of-trials 0.862/0.866/1.029 and 1.344/1.366/1.582).
HEALTHY_WINDOW = {
    "cpu_calibration_sec": 0.19,
    "io_calibration_sec": 0.12,
    "floor_single_append": 0.86,
    "floor_2file_append_ckpt": 1.35,
}
DEGRADED_FACTOR = 1.2


def cpu_calibration(spark, sf_dir: str, reps: int) -> float:
    """Min-of-reps wall of the frozen calibration workload. The
    DataFrame is built ONCE, outside the timed region, so the
    yardstick times only .count(); the artifact names this boundary
    (``calibration_boundary: hoisted-v2``), since timing construction
    too reads about 1.4× higher on the same host (SCALE.md)."""
    cal = calibration_df(spark, sf_dir)
    runs = []
    for _ in range(reps):
        t0 = time.perf_counter()
        cal.count()
        runs.append(time.perf_counter() - t0)
    return round(min(runs), 4)


def io_calibration(reps: int) -> float:
    """Fixed I/O yardstick (round 11). The CPU calibration is blind
    to I/O degradation: bench run 4 matched the prior round's CPU
    calib ×1.01 while the headline ran ×1.16 on I/O-side stalls
    (SCALE.md round 11). This probe times the cost class those stalls
    live in — many small write+fsync+read cycles, the
    checkpoint-commit / shuffle-file pattern: 64 × 256 KiB files
    written with fsync then read back, min-of-reps. Context only,
    like the CPU yardstick — never a verdict input."""
    import shutil
    import tempfile

    scratch = os.path.join(REPO_ROOT, ".scratch")
    base = tempfile.mkdtemp(
        prefix="io-calib-", dir=scratch if os.path.isdir(scratch) else None
    )
    payload = b"\xa5" * (256 * 1024)
    runs = []
    try:
        for r in range(reps):
            paths = [os.path.join(base, f"f{r}_{i}") for i in range(64)]
            t0 = time.perf_counter()
            for p in paths:
                with open(p, "wb") as fh:
                    fh.write(payload)
                    fh.flush()
                    os.fsync(fh.fileno())
            for p in paths:
                with open(p, "rb") as fh:
                    fh.read()
            runs.append(time.perf_counter() - t0)
            for p in paths:
                os.unlink(p)
        return round(min(runs), 4)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def preflight_window(
    checks: dict[str, float],
    refs: dict[str, float] | None = None,
    factor: float = DEGRADED_FACTOR,
    applicable: bool = True,
) -> dict:
    """Classify a bench window from probe measurements. Pure so the
    rule is unit-testable; ``applicable=False`` (non-driver sf/cpus)
    records the probes but refuses to classify."""
    refs = HEALTHY_WINDOW if refs is None else refs
    detail = {}
    degraded = []
    for name, sec in checks.items():
        ref = refs.get(name)
        entry = {"sec": sec, "ref": ref}
        if ref is not None and applicable:
            entry["ratio"] = round(sec / ref, 3)
            if sec > ref * factor:
                degraded.append(name)
        detail[name] = entry
    if not applicable:
        label = "unknown"
    else:
        label = "degraded" if degraded else "healthy"
    return {
        "window": label,
        "degraded_probes": degraded,
        "factor": factor,
        "checks": detail,
    }


def floor_single_append(spark, sf_dir: str):
    """One micro-batch over the single-file events source, append to a
    memory sink, projection only — the absolute streaming floor."""
    from odoo_batch_processing_spark.streaming.queries import (
        _events_dir,
        _mem_name,
        drain_memory_sink,
    )
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
    return drain_memory_sink(spark, q, name)


def floor_2file_append_ckpt(spark, sf_dir: str):
    """Two micro-batches over the SAME 2-copy staging the watermarked
    dedup uses (shared staged_once key), checkpointed append, trivial
    projection — the dedup run minus watermark + state store."""
    from odoo_batch_processing_spark.sources.loader import load_table
    from odoo_batch_processing_spark.sources.sinks import scratch_dir, staged_once
    from odoo_batch_processing_spark.streaming.queries import _mem_name, drain_memory_sink

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
    return drain_memory_sink(spark, q, name)


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from odoo_batch_processing_spark.registry import all_queries
    from odoo_batch_processing_spark.session import get_spark, release_materialized

    spark = get_spark("bench", cpus=cpus, shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    queries = all_queries()
    # Warm the JVM + parquet footers once so timings measure the queries.
    drain(next(iter(queries.values()))(spark, sf_dir))

    # Host timing is noisy (shared 32-core box running 50 Spark jobs
    # back-to-back; round-2 n=2 runs differed by 23% total). Run each
    # query 5 times; the HEADLINE per-query number is the MIN of reps —
    # the engine's clean latency, immune to any number of stalled reps
    # (round 4's median-of-5 failed its purpose: x3_ngram_jaccard raw
    # reps were [8.9, 25.7, 18.6, 1.73, 1.47] on a stalling microVM, so
    # the median landed ON a stall and misreported the engine by 5.6×;
    # min reports 1.47, matching the clean-day r03 number). The median
    # is still computed per query and kept alongside as the noise
    # indicator, and every raw rep is in BENCH_LAST_RAW.json so a
    # regression is attributable to a plan change vs. host noise. One
    # failing query reports -1 instead of killing the bench.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5"))
    # The two host yardsticks run after warmup, before the suite (the
    # quietest point of the session); min-of-reps like every headline
    # number.
    calibration_sec = cpu_calibration(spark, sf_dir, reps)
    io_calibration_sec = io_calibration(reps)

    # Pre-flight window gate: two zero-work streaming floor twins
    # (plain cadence + checkpoint-commit) alongside the CPU/IO
    # yardsticks, judged against the recorded healthy-window
    # references. ~5 s; classifies the window BEFORE 250 query
    # executions are spent on it.
    from odoo_batch_processing_spark.streaming.queries import (
        _with_stream_shuffle,
    )

    # warm the streaming machinery once unmeasured (state-store
    # init, listener setup, sink registration) — the floor table
    # in SCALE.md was measured after the same warmup; without
    # this the first twin absorbs first-streaming-query session
    # costs and reads ×2-4 high on a healthy host
    drain(_with_stream_shuffle(floor_single_append)(spark, sf_dir))
    floor_checks = {}
    for fn in (floor_single_append, floor_2file_append_ckpt):
        wrapped = _with_stream_shuffle(fn)
        runs = []
        for _ in range(3):
            release_materialized()
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            drain(wrapped(spark, sf_dir))
            runs.append(time.perf_counter() - t0)
        floor_checks[fn.__name__] = round(min(runs), 4)
    preflight = preflight_window(
        {
            "cpu_calibration_sec": calibration_sec,
            "io_calibration_sec": io_calibration_sec,
            **floor_checks,
        },
        applicable=(sf_dir.rstrip("/").endswith("sf0.1") and cpus == 32),
    )
    print(
        f"bench: pre-flight window = {preflight['window']}"
        + (
            f" (degraded probes: {preflight['degraded_probes']})"
            if preflight["degraded_probes"]
            else ""
        ),
        file=sys.stderr,
    )

    # probes-only mode (round 12): tools/preflight_refs.py re-runs THE
    # SAME protocol in fresh subprocesses to validate or re-base the
    # HEALTHY_WINDOW references — the floor refs are protocol-bound
    # (see HEALTHY_WINDOW docstring), so the validator must share this
    # exact code path rather than re-implement it
    if os.environ.get("SPARK_GRAFT_PREFLIGHT_ONLY", "0") == "1":
        print(json.dumps({"preflight": preflight}, separators=(",", ":")))
        return 0
    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    raw: dict[str, list[float]] = {}
    t_total = time.perf_counter()
    for name, fn in sorted(queries.items()):
        runs: list[float] = []
        for _ in range(reps):
            # every rep measures the FULL pipeline: queries that persist
            # intermediates (session.materialize_once) register their
            # plans in the SQL CacheManager, which would substitute the
            # cached InMemoryRelation into the canonically-identical
            # plan of the next rep — the median would then time a cache
            # read, not the query. Clearing also stops cached relations
            # from ~30 queries pinning executor storage across the
            # 250-execution suite.
            release_materialized()
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            try:
                drain(fn(spark, sf_dir))
            except Exception as exc:  # surface per-query, keep benching
                print(f"bench: {name} failed: {exc!r}", file=sys.stderr)
                runs = [-1.0]
                break
            runs.append(time.perf_counter() - t0)
        raw[name] = [round(r, 4) for r in runs]
        timings[name] = round(min(runs), 4)
        medians[name] = round(statistics.median(runs), 4)
        # drop Python-side DataFrame refs promptly so the ContextCleaner
        # releases localCheckpoint RDD blocks between queries
        gc.collect()
    loop_wall = round(time.perf_counter() - t_total, 4)
    # headline = sum of per-query min-of-reps (NOT the loop wall, which
    # scales with reps); loop wall + medians are in the raw file
    total = round(sum(t for t in timings.values() if t > 0), 4)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf = float(sf)
    except ValueError:
        pass
    # sub-totals (VERDICT r10 #3): the streaming family (`s_*`) is
    # ~35% of the headline and carries nearly all round-over-round
    # noise (trigger-cadence floors, not compute — see SCALE.md's
    # floor table). Splitting the headline lets a future regression
    # attribute mechanically to cadence vs compute before anyone
    # stares at per-query numbers.
    streaming_total = round(
        sum(t for n, t in timings.items() if n.startswith("s_") and t > 0), 4
    )
    payload = {
        "metric": "all_queries_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "headline_batch": round(total - streaming_total, 4),
        "headline_streaming": streaming_total,
        "sf": sf,
        "reps": reps,
        "stat": "min",
        # frozen-plan host yardstick, judged by the pre-flight
        # (excluded from the headline sum)
        "calibration_sec": calibration_sec,
        # fixed small-file fsync+read probe (round 11): the I/O-side
        # companion the CPU yardstick lacks — a matched calibration_sec
        # with an elevated io_calibration_sec localizes a slow window
        # to I/O (checkpoint/shuffle machinery) mechanically
        "io_calibration_sec": io_calibration_sec,
        "io_calibration_probe": "smallfile-fsync-v1",
        # what one query's timing covers: a plain count() drain skips
        # pruned projections, unreferenced aggregate expressions and
        # LEFT-join-deleted subtrees, so the drain forces every output
        # column; timings under another drain are not comparable
        "drain": "forcing-v2",
        "drain_meaning": "per-query drain = count + bit_xor(xxhash64(all cols)); forces every output column",
        # what calibration_sec times: construction of calibration_df
        # is hoisted out of the timed region, only .count() is timed
        # (see cpu_calibration)
        "calibration_boundary": "hoisted-v2",
        # pre-flight window label: healthy / degraded / unknown
        # (non-driver config). A degraded artifact records everything,
        # but its timings must not be compared with a healthy
        # window's; details (probe secs, refs, ratios) ride along.
        "window": preflight["window"],
        "preflight": preflight,
    }
    with open(os.path.join(REPO_ROOT, "BENCH_LAST_RAW.json"), "w") as fh:
        json.dump(
            {
                "reps": reps,
                "loop_wall": loop_wall,
                "runs": raw,
                "medians": medians,
                # self-description: the raw file names its own
                # workload definition and window, so it can be read
                # without BENCH_LAST.json
                "drain": payload["drain"],
                "window": preflight["window"],
                "sf": sf,
                "cpus": cpus,
                "calibration_sec": calibration_sec,
                "io_calibration_sec": io_calibration_sec,
            },
            fh,
        )
        fh.write("\n")
    # Compact separators keep the line short enough to survive the
    # driver's bounded stdout-tail capture (round 1 lost the line's
    # head to truncation); the file copy is the lossless record.
    line = json.dumps(payload, separators=(",", ":"))
    with open(os.path.join(REPO_ROOT, "BENCH_LAST.json"), "w") as fh:
        fh.write(line + "\n")
    sys.stdout.flush()
    print(line, flush=True)
    # Tail-survivable summary: the full line above is longer than the
    # driver's 2000-char stdout-tail window (2157 chars at 50
    # queries), so a reader of the tail alone would see it cut
    # mid-line. This SECOND line is additive — the full line keeps
    # every key at full precision and is still printed first — and
    # carries the same
    # schema with per-query values rounded to 3 decimals (1 ms, below
    # host noise) plus only the scalar context fields, which keeps it
    # ~1.6k chars: a 2000-char tail always ends with one complete,
    # parseable JSON line that includes all per-query numbers.
    print(summary_line(payload), flush=True)
    return 0


def summary_line(payload: dict) -> str:
    """The ≤2000-char summary form of the bench payload (same keys the
    driver contract names — metric/value/unit/queries/sf — queries at
    3-decimal precision, verbose prose/preflight-detail fields dropped,
    marked ``line: summary-v1``). Guarded by tests/test_bench_summary.py
    so growth past the driver's tail window fails loudly."""
    return json.dumps(
        {
            "metric": payload["metric"],
            "value": payload["value"],
            "unit": payload["unit"],
            "queries": {k: round(v, 3) for k, v in payload["queries"].items()},
            "headline_batch": payload["headline_batch"],
            "headline_streaming": payload["headline_streaming"],
            "sf": payload["sf"],
            "reps": payload["reps"],
            "stat": payload["stat"],
            "calibration_sec": payload["calibration_sec"],
            "window": payload["window"],
            "line": "summary-v1",
        },
        separators=(",", ":"),
    )


if __name__ == "__main__":
    raise SystemExit(main())
