#!/usr/bin/env python
"""State-VOLUME scale ladder for the stateful streaming family
(VERDICT r11 #3).

The floors probe certified trigger CADENCE, the recovery tests
certified RESTARTS, and the parallelism run certified the
state-store-instance count — but no axis varied STATE SIZE, the
actual 100 TB hazard class: seen-key count for watermarked dedup,
buffered-row volume for stream-stream joins, open-window count for
time-window aggregation, running-group count for stateful totals.
This ladder holds the INPUT ROW COUNT constant (the sf0.1 events
corpus, 100k rows) and varies only the state each shape must carry,
×1/×4/×16, via three independent knobs:

* **time compression** (``ts' = max_ts − (max_ts − ts)/S``): packs the
  same rows into 1/S of the corpus's 30-day span, so any FIXED
  watermark/range interval holds S× the rows — scales dedup seen-keys
  and join buffers without touching row count or values;
* **time dilation** (``ts' = min_ts + (ts − min_ts)·S``): stretches
  the span S×, so a windowed aggregation owns S× the windows;
* **key widening** (``key' = event_id mod (base·S)``): S× the distinct
  groups for the running-totals shape.

Shapes and expectations (each mirrors a core catalog query's state
profile; the ladder queries are self-contained here because their
inputs are synthesized variants, same pattern as the floors twins):

* ``dedup_wm`` — ``dropDuplicatesWithinWatermark`` over 8 time-sliced
  micro-batches, 12 h delay. State ≈ keys in the trailing 12 h of
  compressed time: MUST grow ~S× (ladder validity) while staying well
  under the 100k ingested (watermark bound holds at every rung).
* ``ss_join`` — the purchases⋈follow-ups inner join shape, 12 h
  watermarks; the range interval is 720/S MINUTES of compressed time,
  i.e. a CONSTANT 12 h of original time, so the match count (the
  output work) is ~constant along the ladder and wall growth is
  attributable to state handling alone — compression with a fixed
  range would scale matches ∝S and confound the axis. Buffered rows
  scale ~S× via the fixed 12 h watermark delay on compressed time.
* ``totals`` — update-mode ``groupBy(key).sum`` with key' widening:
  state rows = base·S exactly.
* ``hourly_complete`` — complete-mode hourly counts on DILATED time:
  open windows = 720·S. This is the O(span) shape that must NOT ship
  at 100 TB —
* ``hourly_wm`` — the same aggregation in append mode with a 2 h
  watermark on the same dilated corpora: state stays O(open windows
  within the delay), i.e. ~FLAT along S. The pair is the posture
  line: a watermark turns O(span) state into O(1).

Recorded per shape×rung: wall sec (min of reps), and from the final
``StreamingQueryProgress``: ``numRowsTotal``, ``memoryUsedBytes``,
``numRowsUpdated``, ``numRowsDroppedByWatermark``.

Flag rules (exit 1):

* ``wall_superlinear``: top-rung wall > WALL_RATIO_MAX (3×) the base
  rung AND growth ≥ ABS_FLOOR_SEC (1 s) — state ops should be
  O(rows) lookups + O(Δstate) commit writes, so ×16 state at constant
  rows must not triple the wall (the small-base/absolute-floor lesson
  from the file-count axis applies verbatim);
* ``ladder_invalid``: a shape whose knob is DESIGNED to scale state
  (growth_expected) shows top-rung numRowsTotal < 2× base — the knob
  didn't move, the measurement certifies nothing;
* ``state_unbounded``: a watermark-bounded shape retains > 60% of
  ingested rows at any rung — the watermark is not doing its job.

    python tools/scale_state.py [--sf-dir /root/testdata/sf0.1]

Writes SCALE_STATE.json; exit 1 if any shape is flagged.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

RUNGS = (1, 4, 16)
WALL_RATIO_MAX = 3.0
ABS_FLOOR_SEC = 1.0
#: ladder validity: top-rung state must reach at least this multiple
#: of the base rung's for knobs designed to scale state (×16 design,
#: ×2 asserted — generous against eviction-timing slack)
GROWTH_MIN = 2.0
#: watermark-bounded shapes must retain under this fraction of
#: ingested rows at every rung
BOUND_FRACTION = 0.6

N_SLICES = 8
TOTALS_BASE_KEYS = 2000


def _us(col):
    """Microseconds-since-epoch for a ts column that may be NTZ (the
    fixture parquet is TIMESTAMP_NTZ); the inverse is _from_us. Both
    go through the session tz consistently, so the NTZ round-trip is
    exact."""
    from pyspark.sql import functions as F

    return F.unix_micros(col.cast("timestamp"))


def _from_us(col, like_dt):
    from pyspark.sql import functions as F

    out = F.timestamp_micros(col)
    return out.cast("timestamp_ntz") if like_dt.typeName() == "timestamp_ntz" else out


def _compress(df, s: int):
    """ts' = max_ts − (max_ts − ts)/S (max anchored, values untouched)."""
    from pyspark.sql import functions as F

    if s == 1:
        return df
    ts_type = df.schema["ts"].dataType
    mx_us = df.agg(F.max(_us(F.col("ts"))).alias("m")).collect()[0]["m"]
    return df.withColumn(
        "ts",
        _from_us(
            F.lit(mx_us)
            - ((F.lit(mx_us) - _us(F.col("ts"))) / s).cast("long"),
            ts_type,
        ),
    )


def _dilate(df, s: int):
    """ts' = min_ts + (ts − min_ts)·S."""
    from pyspark.sql import functions as F

    if s == 1:
        return df
    ts_type = df.schema["ts"].dataType
    mn_us = df.agg(F.min(_us(F.col("ts"))).alias("m")).collect()[0]["m"]
    return df.withColumn(
        "ts",
        _from_us(
            F.lit(mn_us) + (_us(F.col("ts")) - F.lit(mn_us)) * s, ts_type
        ),
    )


def _stage_variant(spark, sf_dir: str, tag: str, s: int, transform) -> str:
    """Content-keyed time-sliced staging of a transformed events
    corpus: N_SLICES range-partitioned files with increasing mtimes so
    maxFilesPerTrigger=1 processes event time in order (same layout
    contract as streaming.queries._events_time_sliced_dir)."""
    import glob as _glob

    from odoo_batch_processing_spark.sources.sinks import staged_once

    src = os.path.join(sf_dir, "events.parquet")

    def _build(d):
        (
            transform(spark.read.parquet(src), s)
            .repartitionByRange(N_SLICES, "ts", "event_id")
            .write.mode("overwrite")
            .parquet(d)
        )
        parts = sorted(_glob.glob(os.path.join(d, "part-*.parquet")))
        base = time.time() - 2 * len(parts)
        for i, f in enumerate(parts):
            os.utime(f, (base + 2 * i, base + 2 * i))

    return staged_once(f"state-{tag}-s{s}-v1", src, _build)


def _run_stream(spark, build_query, name_prefix: str) -> dict:
    """Start, drain, stop; return {sec, state: {...from lastProgress}}."""
    from odoo_batch_processing_spark.sources.sinks import scratch_dir
    from odoo_batch_processing_spark.streaming.queries import _mem_name

    name = _mem_name(name_prefix)
    t0 = time.perf_counter()
    q = build_query(name, scratch_dir(f"{name_prefix}-ckpt"))
    try:
        q.processAllAvailable()
        progress = q.lastProgress
    finally:
        q.stop()
    sec = time.perf_counter() - t0
    ops = (progress or {}).get("stateOperators") or []
    state = {
        "numRowsTotal": sum(o.get("numRowsTotal", 0) for o in ops),
        "memoryUsedBytes": sum(o.get("memoryUsedBytes", 0) for o in ops),
        "numRowsUpdated": sum(o.get("numRowsUpdated", 0) for o in ops),
        "numRowsDroppedByWatermark": sum(
            o.get("numRowsDroppedByWatermark", 0) for o in ops
        ),
        "operators": len(ops),
    }
    # output volume (outside the timed region): verifies the ladder's
    # constant-work design — dedup emits exactly one row per event_id
    # at every rung, and ss_join's 720/S-minute range holds matches
    # ~flat, so recorded out_rows is the receipt that wall changes
    # are state-attributable, not output-volume-attributable
    out_rows = spark.table(name).count()
    # free the memory sink table
    spark.catalog.dropTempView(name)
    return {"sec": sec, "out_rows": out_rows, "state": state}


# ---------------------------------------------------------------------------
# shapes
# ---------------------------------------------------------------------------
def shape_dedup_wm(spark, sf_dir: str, s: int) -> dict:
    from pyspark.sql import functions as F  # noqa: F401

    from odoo_batch_processing_spark.streaming.sources import change_source

    src = _stage_variant(spark, sf_dir, "compress", s, _compress)

    def _build(name, ckpt):
        deduped = (
            change_source(spark, src, max_files_per_trigger=1)
            .withWatermark("ts", "12 hours")
            .dropDuplicatesWithinWatermark(["event_id"])
            .select("event_id")
        )
        return (
            deduped.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .start()
        )

    return _run_stream(spark, _build, "scst_dedup")


def shape_ss_join(spark, sf_dir: str, s: int) -> dict:
    from pyspark.sql import functions as F

    from odoo_batch_processing_spark.streaming.sources import change_source

    src = _stage_variant(spark, sf_dir, "compress", s, _compress)

    def _build(name, ckpt):
        purchases = (
            change_source(spark, src, max_files_per_trigger=1)
            .filter(F.col("event_type") == "purchase")
            .select(
                "user_id",
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("p_ts"),
            )
            .withWatermark("p_ts", "12 hours")
        )
        others = (
            change_source(spark, src, max_files_per_trigger=1)
            .filter(F.col("event_type") != "purchase")
            .select(
                "user_id",
                F.col("event_id").alias("follow_id"),
                F.col("ts").alias("f_ts"),
            )
            .withWatermark("f_ts", "12 hours")
        )
        # range = 720/S min of COMPRESSED time = a constant 12 h of
        # original time: match volume stays flat along the ladder so
        # wall growth isolates state handling (see module docstring)
        joined = purchases.join(
            others,
            (purchases.user_id == others.user_id)
            & (F.col("f_ts") >= F.col("p_ts"))
            & (
                F.col("f_ts")
                < F.col("p_ts") + F.expr(f"INTERVAL {720 // s} MINUTES")
            ),
        ).select("purchase_id", "follow_id")
        return (
            joined.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .start()
        )

    return _run_stream(spark, _build, "scst_ssj")


def shape_totals(spark, sf_dir: str, s: int) -> dict:
    from pyspark.sql import functions as F

    from odoo_batch_processing_spark.streaming.sources import change_source

    # key widening needs no corpus variant — the knob is in the query
    src = _stage_variant(spark, sf_dir, "compress", 1, _compress)

    def _build(name, ckpt):
        totals = (
            change_source(spark, src, max_files_per_trigger=1)
            .withColumn(
                "k", F.pmod(F.col("event_id"), F.lit(TOTALS_BASE_KEYS * s))
            )
            .groupBy("k")
            .agg(F.sum("value").alias("total"))
        )
        return (
            totals.writeStream.outputMode("update")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .start()
        )

    return _run_stream(spark, _build, "scst_tot")


def shape_hourly_complete(spark, sf_dir: str, s: int) -> dict:
    from pyspark.sql import functions as F

    from odoo_batch_processing_spark.streaming.sources import change_source

    src = _stage_variant(spark, sf_dir, "dilate", s, _dilate)

    def _build(name, ckpt):
        counts = (
            change_source(spark, src, max_files_per_trigger=1)
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w").start.alias("h"), "n")
        )
        return (
            counts.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .start()
        )

    return _run_stream(spark, _build, "scst_hrc")


def shape_hourly_wm(spark, sf_dir: str, s: int) -> dict:
    from pyspark.sql import functions as F

    from odoo_batch_processing_spark.streaming.sources import change_source

    src = _stage_variant(spark, sf_dir, "dilate", s, _dilate)

    def _build(name, ckpt):
        counts = (
            change_source(spark, src, max_files_per_trigger=1)
            .withWatermark("ts", "2 hours")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w").start.alias("h"), "n")
        )
        return (
            counts.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .start()
        )

    return _run_stream(spark, _build, "scst_hrw")


#: shape name → (fn, knob, state grows with S?, watermark-bounded?)
SHAPES = {
    "dedup_wm": (shape_dedup_wm, "time-compression", True, True),
    "ss_join": (shape_ss_join, "time-compression", True, True),
    "totals": (shape_totals, "key-widening", True, False),
    "hourly_complete": (shape_hourly_complete, "time-dilation", True, False),
    "hourly_wm": (shape_hourly_wm, "time-dilation", False, True),
}


def judge(results: dict, n_rows: int) -> dict:
    """Apply the three flag rules; pure so the calibration is
    unit-testable. ``results[shape] = [{sec, state}, ...]`` by rung."""
    flags = {}
    for shape, (_, _, grows, bounded) in SHAPES.items():
        rungs = results[shape]
        secs = [r["sec"] for r in rungs]
        states = [r["state"]["numRowsTotal"] for r in rungs]
        shape_flags = []
        if (
            secs[-1] / max(secs[0], 0.01) > WALL_RATIO_MAX
            and (secs[-1] - secs[0]) >= ABS_FLOOR_SEC
        ):
            shape_flags.append("wall_superlinear")
        if grows and states[-1] < GROWTH_MIN * max(states[0], 1):
            shape_flags.append("ladder_invalid")
        if bounded and any(st > BOUND_FRACTION * n_rows for st in states):
            shape_flags.append("state_unbounded")
        flags[shape] = shape_flags
    return flags


def main() -> int:
    from odoo_batch_processing_spark.session import get_spark
    from odoo_batch_processing_spark.streaming.queries import (
        STATE_STORE_PROVIDERS,
        STREAM_SHUFFLE_PARTITIONS,
    )

    parser = argparse.ArgumentParser()
    parser.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    parser.add_argument(
        "--cpus", type=int, help="default: SPARK_GRAFT_CPUS, else the host's core count"
    )
    parser.add_argument("--reps", type=int, default=2)
    parser.add_argument(
        "--provider",
        choices=sorted(STATE_STORE_PROVIDERS),
        default=None,
        help="pin the state-store provider; output becomes "
        "SCALE_STATE_{provider}.json. The floors posture run measured "
        "RocksDB ~flat at FIXTURE state (x1.09 family, SCALE.md round "
        "12); this axis is where a provider cost that scales with "
        "STATE would actually show.",
    )
    args = parser.parse_args()

    spark = get_spark("scale-state", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.shuffle.partitions", STREAM_SHUFFLE_PARTITIONS)
    if args.provider:
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            STATE_STORE_PROVIDERS[args.provider],
        )

    n_rows = spark.read.parquet(
        os.path.join(args.sf_dir, "events.parquet")
    ).count()

    # warm the JVM + staging once so rung 1 of shape 1 isn't warmup
    shape_dedup_wm(spark, args.sf_dir, 1)

    results: dict[str, list[dict]] = {}
    for shape, (fn, knob, _, _) in SHAPES.items():
        results[shape] = []
        for s in RUNGS:
            best = None
            for _ in range(args.reps):
                r = fn(spark, args.sf_dir, s)
                if best is None or r["sec"] < best["sec"]:
                    best = r
            best["sec"] = round(best["sec"], 2)
            results[shape].append(best)
            st = best["state"]
            print(
                f"[{shape:16s} S={s:2d}] {best['sec']:6.2f}s  "
                f"state_rows={st['numRowsTotal']:7d}  "
                f"out_rows={best['out_rows']:7d}  "
                f"mem={st['memoryUsedBytes'] / 1e6:8.2f}MB  "
                f"dropped={st['numRowsDroppedByWatermark']}",
                file=sys.stderr,
            )
        if shape == "dedup_wm":
            # constant-output invariant: one row per unique event_id
            # at EVERY rung — compression must never change results
            outs = {r["out_rows"] for r in results[shape]}
            if outs != {n_rows}:
                raise SystemExit(
                    f"dedup_wm output varied across rungs: {sorted(outs)} "
                    f"(expected exactly {n_rows} at every rung)"
                )

    flags = judge(results, n_rows)
    flagged = sorted(s for s, f in flags.items() if f)
    payload = {
        "metric": "scale_state",
        "sf_dir": args.sf_dir,
        "cpus": spark.sparkContext.defaultParallelism,
        "n_input_rows": n_rows,
        "rungs": list(RUNGS),
        "reps": args.reps,
        "stat": "min",
        "wall_ratio_max": WALL_RATIO_MAX,
        "abs_floor_sec": ABS_FLOOR_SEC,
        "growth_min": GROWTH_MIN,
        "bound_fraction": BOUND_FRACTION,
        "state_store_provider": args.provider or "hdfs-default",
        "shapes": {
            shape: {
                "knob": SHAPES[shape][1],
                "state_grows_with_s": SHAPES[shape][2],
                "watermark_bounded": SHAPES[shape][3],
                "rungs": results[shape],
                "flags": flags[shape],
            }
            for shape in SHAPES
        },
        "flagged": flagged,
    }
    line = json.dumps(payload, separators=(",", ":"))
    out = (
        f"SCALE_STATE_{args.provider}.json" if args.provider else "SCALE_STATE.json"
    )
    with open(os.path.join(REPO_ROOT, out), "w") as fh:
        fh.write(line + "\n")
    print(line)
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())
