#!/usr/bin/env python
"""Micro-batch HISTORY ladder: certify that per-batch cost does not
grow with the number of batches already processed.

The streaming family's correctness and floors run over ≤8 micro-
batches; 100 TB ingest is 10⁵+. Two costs grow with HISTORY rather
than with data: the file source's seen-files log (every processed
file stays in the map, compacted every ``spark.sql.streaming.
fileSource.log.compactInterval`` batches) and the checkpoint
offset/commit logs (same compaction scheme). If either is
mishandled, batch N gets slower as N grows — invisible at 8 batches,
fatal at 10⁵. This ladder stages the SAME events corpus as
K = 8 / 32 / 128 time-sliced files, streams it with
``maxFilesPerTrigger=1`` (so K = number of micro-batches; per-batch
DATA shrinks as 1/K while per-batch HISTORY grows), and reads
per-batch ``triggerExecution`` durations from ``recentProgress``.

Flag rules (exit 1):

* ``late_batch_drift``: at the top rung, the mean duration of the
  LAST ``TAIL`` batches exceeds DRIFT_FACTOR × the mean of batches
  [WARM..WARM+TAIL) (the early reference window, skipping the first
  WARM warmup batches) — per-batch data is constant within a rung,
  so a late/early ratio ≫ 1 is history cost. The threshold is
  generous (2×) because single-batch jitter at ~100 ms scale is
  large; systematic growth compounds far past it at 10⁵ batches.
* ``per_batch_superlinear``: mean per-batch duration at the top rung
  exceeds DRIFT_FACTOR × the bottom rung's (each batch carries 1/K
  of the data, so per-batch cost should FALL or stay flat with K —
  growth means per-batch overhead scales with total history).

The recorded curve (mean per-batch sec per rung + early/late split at
every rung) is the posture line; Spark's log compaction is the
mechanism under test.

**Listing ladder (round 13)** — the OTHER history cost: the file
source's directory listing is driver-side and O(total files). This
second axis measures it directly: a link farm of
N = 1k / 8k / 64k / 512k hard-linked tiny parquet files (few inodes,
N directory entries — constant data, pure listing load), streamed
with ``maxFilesPerTrigger=1``, reading the per-trigger
``durationMs.latestOffset`` (the phase that contains the listing).
Measured behavior splits in two, and the artifact records both:

* ``*_first_offset_sec`` — trigger 0 performs the FULL directory
  listing (17.5 s at N=512k on this box); this is the listing wall,
  and its least-squares slope vs N extrapolated to 10⁵ files is the
  recorded knee. The file source then serves subsequent triggers from
  its unread-files cache, so the wall recurs at every re-list
  (cache drain / restart / new-arrival discovery), not every trigger
  — shown directly by the recorded ``relist_probe``
  (:func:`run_relist_probe`): at N=64k with mfpt=3000 the ~10k-file
  cache drains every ~3⅓ triggers and the trace shows the full-list
  spike repeating on that exact cadence.
* ``*_offset_mean_sec`` — steady-state offset discovery after warmup
  (the cache-serving cost, flat by design).

Alongside each rung runs the queue-fed twin — the manifest spool
(``sources/manifest.py``'s ``manifest_file_stream``) over the SAME N
files, driven as ``s_r22_manifest_counts`` drives it: one ``pump(1)``
per trigger, each linking the next listed file into a spool that the
built-in file source watches with ``cleanSource=delete``. Its
discovery cost per trigger is the pump call (an ``os.stat`` plus a
tail-read of NEW manifest bytes, then one hard link) plus the spool
stream's ``latestOffset`` (a listing of the unprocessed spool, not of
all N files): O(backlog) once, when the first pump reads the whole
manifest, and O(new arrivals) after — processed entries are never
re-scanned. Receipt: every measured trigger on BOTH twins ingests
exactly ``LISTING_ROWS_PER_FILE`` rows (same files, same batch
shape), and the plan/value equivalence of the swap is pytest-gated
(tests/test_manifest_source.py).

Listing flag rules (exit 1):

* ``manifest_offset_growth``: the manifest twin's mean offset
  discovery at the top rung exceeds LISTING_GROWTH × the bottom
  rung's AND exceeds an absolute jitter floor — the O(new) claim is
  the whole point of the swap, so growth with total file count is a
  regression.
* ``listing_receipt_mismatch``: a measured trigger ingested a row
  count ≠ LISTING_ROWS_PER_FILE on either twin (the probes stopped
  measuring like-for-like batches).

    python tools/scale_batches.py [--sf-dir /root/testdata/sf0.1]

Writes SCALE_BATCHES.json; exit 1 if flagged.
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

RUNGS = (8, 32, 128)
DRIFT_FACTOR = 2.0
WARM = 3  #: warmup batches excluded from the early reference window
TAIL = 5  #: batches in each of the early/late comparison windows

LISTING_RUNGS = (1000, 8000, 64000, 512000)
LISTING_TRIGGERS = 8  #: measured data triggers per probe
LISTING_WARM = 2  #: initial triggers dropped from the means (JVM/plan warmup)
LISTING_ROWS_PER_FILE = 64
LISTING_GROWTH = 3.0  #: manifest offset top/bottom ratio flag threshold
LISTING_ABS_FLOOR = 0.05  #: sec — jitter floor under which growth is noise
EXTRAPOLATE_FILES = 100_000


def run_rung(spark, sf_dir: str, k: int) -> dict:
    from pyspark.sql import functions as F  # noqa: F401

    from odoo_batch_processing_spark.sources.sinks import scratch_dir
    from odoo_batch_processing_spark.streaming.queries import (
        _events_time_sliced_dir,
        _mem_name,
    )
    from odoo_batch_processing_spark.streaming.sources import change_source

    src = _events_time_sliced_dir(spark, sf_dir, k)
    name = _mem_name(f"scb_{k}")
    t0 = time.perf_counter()
    q = (
        change_source(spark, src, max_files_per_trigger=1)
        .select("event_id", "user_id")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", scratch_dir(f"scb-{k}-ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        progress = list(q.recentProgress)
    finally:
        q.stop()
    wall = time.perf_counter() - t0
    rows = spark.table(name).count()
    spark.catalog.dropTempView(name)
    durs = [
        p["durationMs"].get("triggerExecution", 0) / 1000.0
        for p in progress
        if p.get("numInputRows", 0) > 0
    ]
    return {"k": k, "wall_sec": round(wall, 2), "rows": rows, "batch_secs": durs}


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _listing_farm(spark, sf_dir: str, n: int) -> tuple[str, str]:
    """(files_dir, manifest_path): ``n`` hard links of ONE tiny
    events parquet file (constant data, N directory entries) plus the
    append-only manifest naming them — content-keyed so rebuilt only
    when the corpus changes."""
    import glob as _glob

    from odoo_batch_processing_spark.sources.sinks import staged_once

    src = os.path.join(sf_dir, "events.parquet")

    def _build(d):
        tiny = os.path.join(d, "_tiny")
        (
            spark.read.parquet(src)
            .limit(LISTING_ROWS_PER_FILE)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(tiny)
        )
        import shutil

        part = _glob.glob(os.path.join(tiny, "part-*.parquet"))[0]
        files_dir = os.path.join(d, "files")
        os.makedirs(files_dir)
        # manifest entries are RELATIVE to the manifest's directory:
        # staged_once builds in a temp dir and renames it into place,
        # so absolute paths recorded here would dangle after commit.
        # ext4 caps hard links at 65000 per inode — refresh the link
        # source every 60000 files.
        src_inode = part
        with open(os.path.join(d, "manifest.txt"), "w") as fh:
            for i in range(n):
                if i and i % 60000 == 0:
                    src_inode = part + f".c{i}"
                    shutil.copy(part, src_inode)
                name = f"f{i:06d}.parquet"
                os.link(src_inode, os.path.join(files_dir, name))
                fh.write(f"files/{name}\n")

    root = staged_once(f"listing-farm-{n}", src, _build)
    return os.path.join(root, "files"), os.path.join(root, "manifest.txt")


def _measured_triggers(q, want: int, timeout_sec: float = 600.0) -> list[dict]:
    """Poll until ``want`` data triggers have progress entries (or
    timeout), then return the data-trigger progress dicts. The query
    keeps running while we poll — the caller stops it."""
    deadline = time.perf_counter() + timeout_sec
    while time.perf_counter() < deadline:
        exc = q.exception()
        if exc is not None:
            raise RuntimeError(f"probe stream died: {exc}")
        prog = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
        if len(prog) >= want:
            return prog[:want]
        time.sleep(0.05)
    raise RuntimeError(
        f"probe produced {len([p for p in q.recentProgress if p.get('numInputRows', 0) > 0])}"
        f"/{want} data triggers within {timeout_sec}s"
    )


def _offset_secs(progress: list[dict]) -> list[float]:
    return [p["durationMs"].get("latestOffset", 0) / 1000.0 for p in progress]


def _pumped_triggers(q, pump, want: int) -> tuple[list[dict], list[float]]:
    """Drive the spool one timed ``pump(1)`` per trigger, draining
    after each, until ``want`` data triggers ran; returns their
    progress dicts and the pump seconds that fed each one."""
    pump_secs = []
    for _ in range(want):
        t0 = time.perf_counter()
        pump.pump(1)
        pump_secs.append(time.perf_counter() - t0)
        q.processAllAvailable()
    prog = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
    if len(prog) != want:
        raise RuntimeError(f"{want} pumps produced {len(prog)} data triggers")
    return prog, pump_secs


def run_listing_rung(spark, sf_dir: str, n: int) -> dict:
    from odoo_batch_processing_spark.schemas import events_schema
    from odoo_batch_processing_spark.sources.loader import events_ts_unit
    from odoo_batch_processing_spark.sources.manifest import manifest_file_stream
    from odoo_batch_processing_spark.sources.sinks import scratch_dir
    from odoo_batch_processing_spark.streaming.queries import _mem_name
    from odoo_batch_processing_spark.streaming.sources import change_source

    files_dir, manifest = _listing_farm(spark, sf_dir, n)
    # every farm entry links one file: probe that, not a 512k listing
    unit = events_ts_unit(os.path.join(files_dir, "f000000.parquet"))
    # schema given, so no pump runs before the timed ones
    spool_df, pump = manifest_file_stream(
        spark,
        manifest,
        scratch_dir(f"lst-spool-{n}"),
        max_files_per_trigger=1,
        schema=events_schema(unit),
    )
    out = {"n_files": n}
    for kind, df in (
        ("file", change_source(spark, files_dir, max_files_per_trigger=1)),
        ("manifest", spool_df),
    ):
        name = _mem_name(f"lst_{kind}_{n}")
        q = (
            df.select("event_id", "user_id")
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", scratch_dir(f"lst-{kind}-{n}-ckpt"))
            .start()
        )
        try:
            if kind == "file":
                prog = _measured_triggers(q, LISTING_TRIGGERS)
                secs = _offset_secs(prog)
            else:
                prog, pump_secs = _pumped_triggers(q, pump, LISTING_TRIGGERS)
                secs = [p + o for p, o in zip(pump_secs, _offset_secs(prog))]
        finally:
            # a timeout must not leak the memory-sink view + its
            # buffered rows into the rest of the ladder run
            q.stop()
            spark.catalog.dropTempView(name)
        out[f"{kind}_offset_secs"] = [round(s, 4) for s in secs]
        # trigger 0's discovery contains the FULL directory listing
        # (file source) / full-backlog tail-read (first pump); later
        # triggers serve from the source's unread-files cache / read
        # only new manifest bytes — so "first" is the listing wall and
        # "mean" is the steady amortized cost.
        out[f"{kind}_first_offset_sec"] = round(secs[0], 4)
        out[f"{kind}_offset_mean_sec"] = round(_mean(secs[LISTING_WARM:]), 4)
        out[f"{kind}_trigger_rows"] = [int(p.get("numInputRows", 0)) for p in prog]
    return out


def relist_spikes(secs: list[float]) -> list[float]:
    """Triggers whose latestOffset is a re-list spike; pure. The
    cadence is cache_cap/mfpt triggers. The threshold carries an
    absolute floor (ADVICE r13): a cache-served trigger whose
    latestOffset rounds to 0.0 would otherwise zero the relative
    threshold and count EVERY nonzero trigger as a spike, inflating
    the ``n_relists_observed`` receipt into noise."""
    if not secs:
        return []
    thr = max(5 * min(secs), LISTING_ABS_FLOOR)
    return [round(s, 3) for s in secs if s > thr]


def run_relist_probe(spark, sf_dir: str, n: int = 64000, mfpt: int = 3000) -> dict:
    """Make the RECURRING wall visible: with ``maxFilesPerTrigger``
    large enough that the file source's ~10k unread-files cache drains
    every few triggers, each drain forces a full re-list — the
    ``latestOffset`` trace shows the wall repeating (measured at
    N=64k/mfpt=3000: ~1.2–1.6 s spikes every 10k files with ~60 ms
    cache-served triggers between). This is the receipt behind 'the
    wall recurs at every re-list', not just at query start."""
    from odoo_batch_processing_spark.sources.sinks import scratch_dir
    from odoo_batch_processing_spark.streaming.queries import _mem_name
    from odoo_batch_processing_spark.streaming.sources import change_source

    files_dir, _man = _listing_farm(spark, sf_dir, n)
    name = _mem_name("relist")
    q = (
        change_source(spark, files_dir, max_files_per_trigger=mfpt)
        .select("event_id")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", scratch_dir("relist-ckpt"))
        .start()
    )
    try:
        prog = _measured_triggers(q, 12)
    finally:
        q.stop()
        spark.catalog.dropTempView(name)
    secs = _offset_secs(prog)
    spikes = relist_spikes(secs)
    return {
        "n_files": n,
        "max_files_per_trigger": mfpt,
        "offset_secs": [round(s, 3) for s in secs],
        "relist_spikes_sec": spikes,
        "n_relists_observed": len(spikes),
    }


def _fit_per_file(
    rungs: list[dict], key: str, metric: str = "offset_mean_sec"
) -> tuple[float, float]:
    """Least-squares (slope_per_file, intercept) of the offset metric
    vs n_files."""
    xs = [r["n_files"] for r in rungs]
    ys = [r[f"{key}_{metric}"] for r in rungs]
    n = len(xs)
    mx, my = _mean(xs), _mean(ys)
    denom = sum((x - mx) ** 2 for x in xs)
    slope = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / denom if denom else 0.0
    return slope, my - slope * mx


def judge_listing(rungs: list[dict]) -> list[str]:
    """Listing flag rules from the module docstring; pure."""
    flags = []
    bot = rungs[0]["manifest_offset_mean_sec"]
    top = rungs[-1]["manifest_offset_mean_sec"]
    # a bottom rung that rounds to 0 ms means the growth ratio is
    # effectively infinite — it must FIRE the flag, not disable it
    if top > LISTING_ABS_FLOOR and (bot <= 0 or top > LISTING_GROWTH * bot):
        flags.append("manifest_offset_growth")
    for r in rungs:
        for kind in ("file", "manifest"):
            if any(
                rows != LISTING_ROWS_PER_FILE for rows in r[f"{kind}_trigger_rows"]
            ):
                flags.append("listing_receipt_mismatch")
                return flags
    return flags


def judge(rungs: list[dict]) -> list[str]:
    """Flag rules from the module docstring; pure. recentProgress
    retains ~the last 100 batches, so the top rung's early window may
    be missing — drift is judged over whatever early window survives
    (first TAIL retained data batches after WARM), which at K=128
    still spans ≥60 batches of history growth."""
    flags = []
    top = rungs[-1]
    durs = top["batch_secs"]
    if len(durs) >= WARM + 2 * TAIL:
        early = _mean(durs[WARM : WARM + TAIL])
        late = _mean(durs[-TAIL:])
        if early > 0 and late > DRIFT_FACTOR * early:
            flags.append("late_batch_drift")
    means = [_mean(r["batch_secs"]) for r in rungs]
    if means[0] > 0 and means[-1] > DRIFT_FACTOR * means[0]:
        flags.append("per_batch_superlinear")
    if len({r["rows"] for r in rungs}) != 1:
        flags.append("rows_differ_across_rungs")
    return flags


def main() -> int:
    parser = argparse.ArgumentParser()
    parser.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    parser.add_argument(
        "--cpus", type=int, help="default: SPARK_GRAFT_CPUS, else the host's core count"
    )
    parser.add_argument("--reps", type=int, default=2)
    args = parser.parse_args()

    from odoo_batch_processing_spark.session import get_spark
    from odoo_batch_processing_spark.streaming.queries import (
        STREAM_SHUFFLE_PARTITIONS,
    )

    spark = get_spark("scale-batches", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.shuffle.partitions", STREAM_SHUFFLE_PARTITIONS)

    run_rung(spark, args.sf_dir, RUNGS[0])  # warm JVM + staging path
    results = []
    for k in RUNGS:
        best = None
        for _ in range(args.reps):
            r = run_rung(spark, args.sf_dir, k)
            if best is None or r["wall_sec"] < best["wall_sec"]:
                best = r
        durs = best["batch_secs"]
        early = _mean(durs[WARM : WARM + TAIL]) if len(durs) > WARM + TAIL else None
        late = _mean(durs[-TAIL:]) if len(durs) >= TAIL else None
        best["early_mean_sec"] = round(early, 4) if early else None
        best["late_mean_sec"] = round(late, 4) if late else None
        best["mean_batch_sec"] = round(_mean(durs), 4)
        best["batch_secs"] = [round(d, 3) for d in durs]
        results.append(best)
        print(
            f"[K={k:4d}] wall={best['wall_sec']:6.2f}s rows={best['rows']} "
            f"mean/batch={best['mean_batch_sec']:.3f}s "
            f"early={best['early_mean_sec']} late={best['late_mean_sec']}",
            file=sys.stderr,
        )

    run_listing_rung(spark, args.sf_dir, 100)  # warm JVM + streaming engine
    lrungs = []
    for n in LISTING_RUNGS:
        r = run_listing_rung(spark, args.sf_dir, n)
        lrungs.append(r)
        print(
            f"[N={n:6d}] file latestOffset first={r['file_first_offset_sec']:.3f}s "
            f"steady={r['file_offset_mean_sec']:.4f}s | manifest "
            f"first={r['manifest_first_offset_sec']:.3f}s "
            f"steady={r['manifest_offset_mean_sec']:.4f}s",
            file=sys.stderr,
        )
    slope, intercept = _fit_per_file(lrungs, "file", "first_offset_sec")
    mslope, _mi = _fit_per_file(lrungs, "manifest", "first_offset_sec")
    listing = {
        "rungs": list(LISTING_RUNGS),
        "triggers": LISTING_TRIGGERS,
        "warm": LISTING_WARM,
        "rows_per_file": LISTING_ROWS_PER_FILE,
        "growth_threshold": LISTING_GROWTH,
        "abs_floor_sec": LISTING_ABS_FLOOR,
        "results": lrungs,
        "file_full_listing_sec_per_file": round(slope, 9),
        "manifest_full_backlog_sec_per_file": round(mslope, 9),
        "file_full_listing_sec_at_100k": round(
            slope * EXTRAPOLATE_FILES + intercept, 3
        ),
        "manifest_steady_top_rung_sec": lrungs[-1]["manifest_offset_mean_sec"],
        "file_steady_top_rung_sec": lrungs[-1]["file_offset_mean_sec"],
        "relist_probe": run_relist_probe(spark, args.sf_dir),
    }

    flags = judge(results) + judge_listing(listing["results"])
    payload = {
        "metric": "scale_batches",
        "sf_dir": args.sf_dir,
        "cpus": spark.sparkContext.defaultParallelism,
        "rungs": list(RUNGS),
        "reps": args.reps,
        "drift_factor": DRIFT_FACTOR,
        "warm": WARM,
        "tail": TAIL,
        "results": results,
        "listing": listing,
        "flagged": flags,
    }
    line = json.dumps(payload, separators=(",", ":"))
    with open(os.path.join(REPO_ROOT, "SCALE_BATCHES.json"), "w") as fh:
        fh.write(line + "\n")
    print(line)
    return 1 if flags else 0


if __name__ == "__main__":
    raise SystemExit(main())
