"""The manifest change feed (sources/manifest.py) — the
notification-queue swap for the file streaming source that the
SCALE_BATCHES listing ladder motivates.

Three contracts:

* ``ManifestTail`` is an O(new-bytes) incremental reader: partial
  lines buffer, released byte offsets land on line boundaries, and a
  ``max_lines`` throttle releases exactly that many entries per poll.
* ``ManifestSpoolPump`` links every completely listed file into the
  spool exactly once, across restarts from its cursor.
* The swap is value- and PLAN-preserving: the spool stream is the
  built-in file source, so every analyzed-plan node above the source
  relation is identical to ``change_source``'s over the same files.
"""

from __future__ import annotations

import glob
import os
import re

import pytest

from odoo_batch_processing_spark.sources.manifest import ManifestTail

SF = "/root/testdata/sf0.001"


def _poll(t: ManifestTail, max_lines: int | None = None) -> int:
    return t.poll_released(max_lines)[0]


def _listed(path: str, start: int = 0, end: int | None = None) -> list[str]:
    """The non-blank paths in manifest bytes [start, end), read back
    from disk independently of the tail under test."""
    with open(path, "rb") as fh:
        fh.seek(start)
        chunk = fh.read() if end is None else fh.read(end - start)
    return [ln.decode().strip() for ln in chunk.splitlines() if ln.strip()]


# ---------------------------------------------------------------- tail unit

def test_tail_incremental_and_throttled(tmp_path):
    man = tmp_path / "m.txt"
    man.write_bytes(b"a.parquet\nb.parquet\n")
    t = ManifestTail(str(man))
    # throttle: one line per poll, offsets on line boundaries
    assert _poll(t, 1) == len(b"a.parquet\n")
    off2 = _poll(t, 1)
    assert off2 == len(b"a.parquet\nb.parquet\n")
    # drained: no growth, offset stable
    assert _poll(t, 1) == off2
    # append arrives later — only NEW bytes are scanned
    with open(man, "ab") as fh:
        fh.write(b"c.parquet\n")
    assert _poll(t) == off2 + len(b"c.parquet\n")
    assert _listed(str(man), off2, t.released) == ["c.parquet"]


def test_tail_partial_line_buffering(tmp_path):
    man = tmp_path / "m.txt"
    man.write_bytes(b"a.parquet\nb.par")  # torn write: incomplete last line
    t = ManifestTail(str(man))
    assert _poll(t) == len(b"a.parquet\n")  # partial line NOT released
    with open(man, "ab") as fh:
        fh.write(b"quet\n")
    assert _poll(t) == len(b"a.parquet\nb.parquet\n")
    assert _listed(str(man), 0, t.released) == [
        "a.parquet",
        "b.parquet",
    ]


def test_tail_missing_file_is_empty(tmp_path):
    t = ManifestTail(str(tmp_path / "absent.txt"))
    assert _poll(t) == 0


def test_tail_fast_forward(tmp_path):
    man = tmp_path / "m.txt"
    man.write_bytes(b"a.pq\nb.pq\nc.pq\n")
    t = ManifestTail(str(man))
    _poll(t, 1)  # released = 5, pending = [b.pq\n, c.pq\n]
    t.fast_forward(10)  # drop b.pq from pending
    assert t.released == 10
    assert _poll(t, 1) == 15  # c.pq released next, not b.pq
    # beyond scanned region: buffers reset, next poll resumes at pos
    t2 = ManifestTail(str(man))
    t2.fast_forward(10)
    assert _poll(t2) == 15  # only c.pq remained
    # backwards/no-op fast-forward changes nothing
    t2.fast_forward(3)
    assert t2.released == 15


def test_tail_property_arbitrary_interleavings(tmp_path):
    """Property: under ANY interleaving of appends (including torn
    partial-line writes), throttled polls, and fast-forwards, the
    tail's released offset is monotone, always lands on a line
    boundary (or a fast-forward target), and the concatenation of all
    released ranges read back from the file equals the
    manifest's complete lines exactly once, in order — the loss-free /
    dup-free invariant the streaming offsets inherit. Pure-Python
    hypothesis sweep over the newest subsystem's state machine."""
    from hypothesis import given, settings, strategies as st

    op = st.one_of(
        st.tuples(st.just("append"), st.text(alphabet="ab\n", min_size=1, max_size=9)),
        st.tuples(st.just("poll"), st.integers(min_value=1, max_value=3)),
        st.tuples(st.just("poll_all"), st.just(None)),
    )

    @given(st.lists(op, min_size=1, max_size=24))
    @settings(max_examples=60, deadline=None)
    def run(ops):
        man = tmp_path / f"prop-{abs(hash(tuple(map(tuple, ops)))):x}.txt"
        man.write_bytes(b"")
        t = ManifestTail(str(man))
        content = b""
        released_paths: list[str] = []
        prev = 0
        for kind, arg in ops:
            if kind == "append":
                chunk = arg.encode()
                content += chunk
                with open(man, "ab") as fh:
                    fh.write(chunk)
            else:
                before = t.released
                after = _poll(t, arg if kind == "poll" else None)
                assert after >= before  # monotone
                released_paths.extend(
                    _listed(str(man), before, after)
                )
                prev = after
        # drain fully at the end
        before = t.released
        after = _poll(t)
        released_paths.extend(_listed(str(man), before, after))
        assert after >= prev
        # released offset sits at the last complete line boundary
        complete = content.rsplit(b"\n", 1)[0] + b"\n" if b"\n" in content else b""
        assert after == len(complete)
        expected = [
            ln.decode().strip()
            for ln in complete.splitlines()
            if ln.strip()
        ]
        assert released_paths == expected  # exactly once, in order

    run()


# ------------------------------------------------------- end-to-end + plan

def _staged(spark):
    from odoo_batch_processing_spark.sources.sinks import staged_once

    src = os.path.join(SF, "events.parquet")

    def _build(d):
        files_dir = os.path.join(d, "files")
        (
            spark.read.parquet(src)
            .limit(256)
            .repartition(4)
            .write.mode("overwrite")
            .parquet(files_dir)
        )
        parts = sorted(glob.glob(os.path.join(files_dir, "part-*.parquet")))
        with open(os.path.join(d, "manifest.txt"), "w") as fh:
            for p in parts:
                fh.write(f"files/{os.path.basename(p)}\n")

    root = staged_once("manifest-src-test", src, _build)
    return os.path.join(root, "files"), os.path.join(root, "manifest.txt")


def _downstream(df):
    from pyspark.sql import functions as F

    return (
        df.filter(F.col("value") > 0)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sv"))
    )


def _run_to_completion(spark, df, name):
    from odoo_batch_processing_spark.sources.sinks import scratch_dir

    q = (
        df.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", scratch_dir(f"{name}-ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = sorted(map(tuple, spark.table(name).collect()))
    spark.catalog.dropTempView(name)
    return rows


def _plan_above_source(df) -> list[str]:
    """Analyzed-plan lines above the source relation, normalized for
    expression ids (#123) — the part of the plan the swap must not
    change."""
    plan = df._jdf.queryExecution().analyzed().toString()
    lines = []
    for line in plan.splitlines():
        if "StreamingRelation" in line or "Relation" in line.split(" ")[0]:
            break
        lines.append(re.sub(r"#\d+L?", "#x", line))
    assert lines, f"no nodes above the source in:\n{plan}"
    return lines


def test_manifest_throttle_batches(spark):
    """The pump is the throttle: each ``pump(1)`` links one file, and
    the stream turns it into exactly one data micro-batch — the queue
    twin of the file source's rate limiting, with no
    ``maxFilesPerTrigger`` set."""
    from odoo_batch_processing_spark.sources.manifest import manifest_file_stream
    from odoo_batch_processing_spark.sources.sinks import scratch_dir

    _files_dir, manifest = _staged(spark)
    n_files = len(_listed(manifest))
    stream, pump = manifest_file_stream(spark, manifest, scratch_dir("mfs-spool"))
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("mfs_throttle")
        .option("checkpointLocation", scratch_dir("mfs-throttle-ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()  # the file linked to probe the schema
        pumps = 1
        while pump.pump(1):
            pumps += 1
            q.processAllAvailable()
        data_batches = [
            p for p in q.recentProgress if p.get("numInputRows", 0) > 0
        ]
    finally:
        q.stop()
    total = spark.table("mfs_throttle").count()
    spark.catalog.dropTempView("mfs_throttle")
    assert total == 256
    assert len(data_batches) == pumps == n_files
    if q.exception() is not None:
        pytest.fail(str(q.exception()))


def test_change_source_normalizes_ts_units(spark, tmp_path):
    """Every ``ts`` encoding a staged events file may carry streams to
    the same µs instant (each unit scaled by its own factor, ns
    floored): Spark's parquet reader plus the ``events_ts_unit`` probe
    handle all seven with no conversion code of their own."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from odoo_batch_processing_spark.streaming.sources import change_source

    ns_val = 1_700_000_000_123_456_789
    us_val = ns_val // 1000
    ms_val = ns_val // 1_000_000
    s_val = ns_val // 1_000_000_000
    cases = {
        "ns": (pa.array([ns_val], pa.timestamp("ns")), us_val),
        "raw": (pa.array([ns_val], pa.int64()), us_val),  # nanos contract
        "us": (pa.array([us_val], pa.timestamp("us")), us_val),
        "ms": (pa.array([ms_val], pa.timestamp("ms")), ms_val * 1000),
        "s": (pa.array([s_val], pa.timestamp("s")), s_val * 1_000_000),
        # tz-aware columns are UTC epochs, like Spark's TimestampType
        "us_tz": (pa.array([us_val], pa.timestamp("us", tz="UTC")), us_val),
        "ns_tz": (pa.array([ns_val], pa.timestamp("ns", tz="+05:30")), us_val),
    }
    streams = []
    for name, (arr, _want) in cases.items():
        d = tmp_path / name
        d.mkdir()
        tbl = pa.table({"event_id": pa.array([1], pa.int64()), "ts": arr})
        pq.write_table(tbl, str(d / "part-0.parquet"))
        streams.append(
            change_source(spark, str(d)).select(
                F.lit(name).alias("case"), F.unix_micros("ts").alias("us")
            )
        )
    union = streams[0]
    for df in streams[1:]:
        union = union.unionByName(df)
    q = union.writeStream.format("memory").queryName("mfs_ts_units").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = dict(map(tuple, spark.table("mfs_ts_units").collect()))
    spark.catalog.dropTempView("mfs_ts_units")
    assert got == {name: want for name, (_arr, want) in cases.items()}


# ------------------------------------------------------------ spool pump

def _spool_suffixes(spool):
    """Spool entry names with the deterministic offset prefix
    stripped — the stable part a test can assert on."""
    return sorted(p.name.split("-", 1)[1] for p in spool.iterdir())


def test_spool_pump_o_new_and_idempotent(tmp_path):
    """ManifestSpoolPump: each pump links only NEWLY listed files
    (O(new)), replays are idempotent, and the cursor sidecar makes the
    position durable across pump restarts. Pure driver-side — no
    Spark."""
    from odoo_batch_processing_spark.sources.manifest import ManifestSpoolPump

    files = tmp_path / "files"
    files.mkdir()
    for i in range(4):
        (files / f"f{i}.parquet").write_bytes(b"x" * (10 + i))
    man = tmp_path / "manifest.txt"
    man.write_text("files/f0.parquet\nfiles/f1.parquet\n")
    spool = tmp_path / "spool"
    cursor = tmp_path / "cursor"

    pump = ManifestSpoolPump(str(man), str(spool), cursor=str(cursor))
    assert pump.pump(1) == 1
    assert _spool_suffixes(spool) == ["f0.parquet"]
    assert pump.pump() == 1  # only the remaining listed file
    assert _spool_suffixes(spool) == ["f0.parquet", "f1.parquet"]
    assert pump.pump() == 0  # nothing new

    # new arrivals append to the manifest; only THEY link
    with open(man, "a") as fh:
        fh.write("files/f2.parquet\n")
    assert pump.pump() == 1
    # hard link, not copy: same inode as the staged original
    (f2_spool,) = [p for p in spool.iterdir() if p.name.endswith("f2.parquet")]
    assert f2_spool.stat().st_ino == (files / "f2.parquet").stat().st_ino

    # restart: a fresh pump seeded from the cursor skips everything
    # already delivered, even with the spool wiped (cleanSource did it)
    for p in spool.iterdir():
        p.unlink()
    pump2 = ManifestSpoolPump(str(man), str(spool), cursor=str(cursor))
    assert pump2.pump() == 0
    with open(man, "a") as fh:
        fh.write("files/f3.parquet\n")
    assert pump2.pump() == 1
    assert _spool_suffixes(spool) == ["f3.parquet"]


def test_spool_pump_basename_collision_delivers_both(tmp_path):
    """Review r16 #1: two manifest entries with the SAME basename in
    different directories (day-partitioned ingest) must BOTH deliver —
    the offset-prefixed spool name keeps them distinct, while a replay
    of the same entry re-derives the identical name (idempotent)."""
    from odoo_batch_processing_spark.sources.manifest import ManifestSpoolPump

    for d in ("day=1", "day=2"):
        (tmp_path / d).mkdir()
    (tmp_path / "day=1" / "part-0.parquet").write_bytes(b"one")
    (tmp_path / "day=2" / "part-0.parquet").write_bytes(b"two")
    man = tmp_path / "manifest.txt"
    man.write_text("day=1/part-0.parquet\nday=2/part-0.parquet\n")
    spool = tmp_path / "spool"

    pump = ManifestSpoolPump(str(man), str(spool))
    assert pump.pump() == 2
    entries = sorted(spool.iterdir())
    assert len(entries) == 2
    assert sorted(p.read_bytes() for p in entries) == [b"one", b"two"]

    # replay the same range (fresh pump, no cursor): same names, no
    # duplicates, no error
    pump2 = ManifestSpoolPump(str(man), str(spool))
    assert pump2.pump() == 2
    assert len(list(spool.iterdir())) == 2


def test_spool_pump_blank_lines_advance_the_loop(tmp_path):
    """Review r16 #2: a released BLANK manifest line must count as
    released (return > 0) so the documented `while pump.pump(1)` drain
    loop keeps going and reaches the entries behind it."""
    from odoo_batch_processing_spark.sources.manifest import ManifestSpoolPump

    files = tmp_path / "files"
    files.mkdir()
    (files / "a.parquet").write_bytes(b"a")
    (files / "b.parquet").write_bytes(b"b")
    man = tmp_path / "manifest.txt"
    man.write_text("files/a.parquet\n\nfiles/b.parquet\n")
    spool = tmp_path / "spool"

    pump = ManifestSpoolPump(str(man), str(spool))
    pumped = 0
    while pump.pump(1):
        pumped += 1
    assert pumped == 3  # two files + one blank line, all released
    assert _spool_suffixes(spool) == ["a.parquet", "b.parquet"]


def test_spool_pump_cross_device_falls_back_to_symlink(tmp_path, monkeypatch):
    """Review r16 #4: a spool on a different filesystem (os.link →
    EXDEV) must fall back to a symlink — still zero-copy, still
    removable by cleanSource — instead of crashing the pump."""
    import errno as _errno
    import os as _os

    from odoo_batch_processing_spark.sources import manifest as M

    files = tmp_path / "files"
    files.mkdir()
    (files / "x.parquet").write_bytes(b"payload")
    man = tmp_path / "manifest.txt"
    man.write_text("files/x.parquet\n")
    spool = tmp_path / "spool"

    def _exdev(*_a, **_k):
        raise OSError(_errno.EXDEV, "Invalid cross-device link")

    monkeypatch.setattr(M.os, "link", _exdev)
    pump = M.ManifestSpoolPump(str(man), str(spool))
    assert pump.pump() == 1
    (entry,) = spool.iterdir()
    assert _os.path.islink(entry)
    assert entry.read_bytes() == b"payload"


def test_manifest_file_stream_empty_spool_requires_schema(spark, tmp_path):
    """Review r16 #3: constructing the spool stream with schema=None
    over an empty manifest must raise a CLEAR contract error (pass
    schema=), not a FileNotFoundError from the ts-unit probe."""
    from odoo_batch_processing_spark.sources.manifest import manifest_file_stream

    man = tmp_path / "manifest.txt"
    man.write_text("")
    with pytest.raises(ValueError, match="pass schema="):
        manifest_file_stream(spark, str(man), str(tmp_path / "spool"))


def test_manifest_file_stream_suffixless_entries_probe(spark, tmp_path):
    """ADVICE r16 #3: the schema probe must accept spool entries whose
    basenames lack a .parquet suffix — the pump links whatever the
    manifest lists, and the JVM file stream reads any non-hidden file
    regardless of extension. Before the fix the probe loop globbed
    *.parquet, pumped the WHOLE manifest, then raised 'lists no
    (further) files' even though files were linked."""
    from odoo_batch_processing_spark.sources.manifest import manifest_file_stream

    files_dir, _ = _staged(spark)
    part = sorted(glob.glob(os.path.join(files_dir, "part-*.parquet")))[0]
    data = tmp_path / "files"
    data.mkdir()
    # a valid parquet file with no .parquet suffix in its name
    (data / "chunk-000.dat").write_bytes(open(part, "rb").read())
    man = tmp_path / "manifest.txt"
    man.write_text("files/chunk-000.dat\n")
    stream, pump = manifest_file_stream(spark, str(man), str(tmp_path / "spool"))
    assert stream.isStreaming
    assert "event_type" in stream.columns
    rows = _run_to_completion(spark, _downstream(stream), "spool_suffixless")
    # _downstream touches only (value, event_type), so a plain batch
    # read of the same single part file is the exact reference
    ref = sorted(map(tuple, _downstream(spark.read.parquet(part)).collect()))
    assert rows == ref and len(rows) > 0


def test_spool_swap_values_plan_and_jvm_data_plane(spark, tmp_path):
    """The spool (manifest discovery + built-in parquet file source)
    must (a) keep the transformation plan identical to the file
    source's, (b) produce identical values, and (c) scan through the
    plain file StreamingRelation — rows never cross into Python."""
    from odoo_batch_processing_spark.sources.manifest import manifest_file_stream
    from odoo_batch_processing_spark.streaming.sources import change_source

    files_dir, manifest = _staged(spark)
    file_df = _downstream(change_source(spark, files_dir))
    spool_raw, pump = manifest_file_stream(
        spark, manifest, str(tmp_path / "spool"), max_files_per_trigger=1
    )
    spool_df = _downstream(spool_raw)

    assert _plan_above_source(file_df) == _plan_above_source(spool_df)
    spool_plan = spool_df._jdf.queryExecution().analyzed().toString()
    assert "FileSource[" in spool_plan or "parquet" in spool_plan

    q = (
        spool_df.writeStream.outputMode("complete")
        .format("memory")
        .queryName("mfs_spool")
        .start()
    )
    try:
        q.processAllAvailable()
        while pump.pump(1):
            q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(map(tuple, spark.table("mfs_spool").collect()))
    spark.catalog.dropTempView("mfs_spool")
    want = _run_to_completion(spark, file_df, "mfs_file_ref")
    assert got == want
    assert len(got) > 0

    # cleanSource=delete consumed spool entries; the staged ORIGINALS
    # survive (hard links share the inode, deletion only drops a name)
    staged = sorted(glob.glob(os.path.join(files_dir, "part-*.parquet")))
    assert len(staged) == 4


def test_manifest_swap_values_and_plan(spark, tmp_path):
    """The unthrottled form of the swap: ``manifest_file_stream`` with
    its defaults (no ``max_files_per_trigger``) and one ``pump()`` that
    links the whole manifest keep the plan above the scan and the
    values identical to ``change_source`` over the same files."""
    from odoo_batch_processing_spark.sources.manifest import manifest_file_stream
    from odoo_batch_processing_spark.streaming.sources import change_source

    files_dir, manifest = _staged(spark)
    file_df = _downstream(change_source(spark, files_dir))
    spool_raw, pump = manifest_file_stream(spark, manifest, str(tmp_path / "spool"))
    assert pump.pump() == len(_listed(manifest)) - 1  # all but the probe file
    mf_df = _downstream(spool_raw)

    assert _plan_above_source(file_df) == _plan_above_source(mf_df)

    a = _run_to_completion(spark, file_df, "mfs_file")
    b = _run_to_completion(spark, mf_df, "mfs_manifest")
    assert a == b
    assert len(a) > 0


def test_manifest_restart_exactly_once(spark, tmp_path):
    """Restart with NO cursor sidecar — the limit of a crash between
    link and cursor write: the fresh pump re-links the whole manifest
    from offset 0, under the same offset-prefixed names, including
    entries that cleanSource=delete already removed. Protocol: drain
    half the manifest, stop, append the other half, restart a fresh
    pump and a fresh query on the SAME checkpoint. Receipt: every row
    ingested exactly once across both runs — the file source's
    seen-files log, restored from the checkpoint, drops the re-linked
    entries it already committed."""
    from odoo_batch_processing_spark.sources.manifest import manifest_file_stream
    from odoo_batch_processing_spark.sources.sinks import scratch_dir

    files_dir, _m = _staged(spark)
    parts = sorted(glob.glob(os.path.join(files_dir, "part-*.parquet")))
    assert len(parts) == 4
    manifest = str(tmp_path / "manifest.txt")
    with open(manifest, "w") as fh:
        for p in parts[:2]:
            fh.write(p + "\n")
    ckpt = scratch_dir("mfs-restart-ckpt")
    spool = str(tmp_path / "spool")
    out = str(tmp_path / "out")  # file sink: a duplicate source read
    # lands in a NEW batch id, so the sink records it and the receipt
    # can't be masked

    def _run():
        stream, pump = manifest_file_stream(
            spark, manifest, spool, max_files_per_trigger=1
        )
        q = (
            stream.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
            while pump.pump(1):
                q.processAllAvailable()
        finally:
            q.stop()
        return spark.read.parquet(out).collect()

    first = _run()
    assert 0 < len(first) < 256  # half the corpus, fully committed

    with open(manifest, "a") as fh:
        for p in parts[2:]:
            fh.write(p + "\n")

    second = _run()  # fresh pump from offset 0, same checkpoint

    ids = [r["event_id"] for r in second]
    assert len(ids) == 256  # nothing lost...
    assert len(set(ids)) == 256  # ...nothing duplicated


def test_spool_restart_exactly_once(spark, tmp_path):
    """The spool twin's restart contract, END TO END (the pure-Python
    pump/cursor tests above prove the driver-side protocol; this
    composes it with the engine's checkpoint): drain half the manifest
    through the JVM file stream with cleanSource=delete, stop, append
    the other half, restart a FRESH pump (seeded from the durable
    cursor sidecar) and a FRESH query on the SAME checkpoint. Receipt:
    every row ingested exactly once across both incarnations — the
    cursor prevents re-linking delivered entries, the offset-prefixed
    names make any crash-replay link idempotent, and the file source's
    seen-files log dedupes at the engine layer."""
    import glob as _glob

    from odoo_batch_processing_spark.sources.manifest import manifest_file_stream
    from odoo_batch_processing_spark.sources.sinks import scratch_dir

    files_dir, _m = _staged(spark)
    parts = sorted(_glob.glob(os.path.join(files_dir, "part-*.parquet")))
    assert len(parts) == 4
    manifest = str(tmp_path / "manifest.txt")
    with open(manifest, "w") as fh:
        for p in parts[:2]:
            fh.write(p + "\n")
    ckpt = scratch_dir("spool-restart-ckpt")
    cursor = os.path.join(ckpt, "pump-cursor")
    spool = str(tmp_path / "spool")
    out = str(tmp_path / "out")

    def _run():
        stream, pump = manifest_file_stream(
            spark, manifest, spool, max_files_per_trigger=1, cursor=cursor
        )
        q = (
            stream.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
            while pump.pump(1):
                q.processAllAvailable()
        finally:
            q.stop()
        return spark.read.parquet(out).collect()

    first = _run()
    assert 0 < len(first) < 256  # half the corpus, fully committed

    with open(manifest, "a") as fh:
        for p in parts[2:]:
            fh.write(p + "\n")

    second = _run()  # fresh pump from the cursor + same checkpoint

    ids = [r["event_id"] for r in second]
    assert len(ids) == 256  # nothing lost...
    assert len(set(ids)) == 256  # ...nothing duplicated


def test_spool_pump_property_arbitrary_interleavings(tmp_path):
    """Property (review r16 follow-through): under ANY interleaving of
    manifest appends (torn writes, blank lines, duplicate basenames
    across directories) and throttled pumps, the spool ends holding
    EVERY completely-listed file exactly once, with content intact —
    the loss-free/dup-free invariant the JVM file stream inherits from
    the pump. Pure-Python hypothesis sweep."""
    from hypothesis import given, settings, strategies as st

    from odoo_batch_processing_spark.sources.manifest import ManifestSpoolPump

    # source files the manifests may list: three dirs sharing basenames
    src_root = tmp_path / "src"
    rels = []
    for d in ("d1", "d2", "d3"):
        (src_root / d).mkdir(parents=True)
        for b in ("p.parquet", "q.parquet"):
            (src_root / d / b).write_bytes(f"{d}/{b}".encode())
            rels.append(f"src/{d}/{b}")

    op = st.one_of(
        st.tuples(st.just("list"), st.integers(min_value=0, max_value=5)),
        st.tuples(st.just("blank"), st.just(None)),
        st.tuples(st.just("pump"), st.integers(min_value=1, max_value=2)),
        st.tuples(st.just("pump_all"), st.just(None)),
    )

    @given(st.lists(op, min_size=1, max_size=20))
    @settings(max_examples=40, deadline=None)
    def run(ops):
        key = f"{abs(hash(tuple(map(tuple, ops)))):x}"
        man = tmp_path / f"m-{key}.txt"
        man.write_bytes(b"")
        spool = tmp_path / f"spool-{key}"
        pump = ManifestSpoolPump(str(man), str(spool))
        listed: list[str] = []
        for kind, arg in ops:
            if kind == "list":
                rel = rels[arg]
                listed.append(rel)
                with open(man, "ab") as fh:
                    fh.write(rel.encode() + b"\n")
            elif kind == "blank":
                with open(man, "ab") as fh:
                    fh.write(b"\n")
            else:
                pump.pump(arg if kind == "pump" else None)
        while pump.pump(1):  # drain
            pass
        got = sorted(p.read_bytes().decode() for p in spool.iterdir())
        want = sorted(r.removeprefix("src/") for r in listed)
        assert got == want  # every listed file once, content intact

    run()
