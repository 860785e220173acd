"""R21 sink roundtrips: parquet/csv/json write→read preserves the
relation (the engine's commit-then-verify contract)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE, settle


@pytest.mark.parametrize("fmt", ["parquet", "csv", "json"])
def test_roundtrip_preserves_relation(spark, tmp_path, fmt):
    from odoo_batch_processing_spark.sources.loader import load_table
    from odoo_batch_processing_spark.sources.sinks import write_roundtrip

    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    back = write_roundtrip(orders, fmt, out_dir=str(tmp_path / fmt))
    assert back.schema == orders.schema
    a = sorted(tuple(r) for r in orders.collect())
    b = sorted(tuple(r) for r in back.collect())
    assert a == b


def test_partitioned_write_prunes(spark, tmp_path):
    """partitionBy layout → a filter on the partition column reads only
    that partition's files (PartitionFilters in the scan)."""
    from odoo_batch_processing_spark.sources.loader import load_table
    from odoo_batch_processing_spark.sources.sinks import write_roundtrip

    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    out = str(tmp_path / "part")
    write_roundtrip(orders, "parquet", partition_by=["o_orderstatus"], out_dir=out)
    pruned = spark.read.parquet(out).filter(F.col("o_orderstatus") == "O")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(o_orderstatus" in plan or "o_orderstatus" in plan
    n_expected = orders.filter(F.col("o_orderstatus") == "O").count()
    assert pruned.count() == n_expected


def test_merge_into_partitioned_upsert_and_insert(spark, tmp_path):
    """MERGE emulation: updates rewrite only their keys, inserts land,
    rows in untouched partitions are not just preserved — their files
    are never rewritten (dynamic partition overwrite)."""
    import os

    from odoo_batch_processing_spark.sources.sinks import merge_into_partitioned

    target_dir = str(tmp_path / "target")
    rows = [(i, "F" if i % 2 == 0 else "O", float(i)) for i in range(1, 101)]
    df = spark.createDataFrame(rows, "k bigint, status string, v double")
    df.write.partitionBy("status").parquet(target_dir)

    o_dir = os.path.join(target_dir, "status=O")
    o_files_before = {
        (f, os.path.getmtime(os.path.join(o_dir, f)))
        for f in os.listdir(o_dir)
        if f.endswith(".parquet")
    }

    updates = spark.createDataFrame(
        [(2, "F", -2.0), (4, "F", -4.0), (999, "F", -999.0)],  # 2 updates + 1 insert
        "k bigint, status string, v double",
    )
    merged = merge_into_partitioned(spark, target_dir, updates, key="k", partition_by="status")

    got = {r["k"]: r["v"] for r in merged.collect()}
    assert got[2] == -2.0 and got[4] == -4.0          # updated
    assert got[999] == -999.0                          # inserted
    assert got[6] == 6.0 and got[1] == 1.0             # untouched rows intact
    assert len(got) == 101

    o_files_after = {
        (f, os.path.getmtime(os.path.join(o_dir, f)))
        for f in os.listdir(o_dir)
        if f.endswith(".parquet")
    }
    assert o_files_before == o_files_after, "untouched partition was rewritten"


def test_events_clone_roundtrip_never_int96(spark, tmp_path):
    """An engine-written events clone reloads identically: the session
    writes TIMESTAMP_MICROS (never legacy INT96), and even a foreign
    INT96 file routes through the probe's physical-type branch instead
    of being misread as raw int64 nanos (the ts-unit mismatch that
    broke the first 8× star-schema clone, SCALE.md)."""
    import pyarrow.parquet as pq

    from odoo_batch_processing_spark.sources.loader import events_ts_unit, load_table

    events = load_table(spark, SF_SMOKE, "events")
    out = str(tmp_path / "events.parquet")
    events.write.mode("overwrite").parquet(out)

    part = sorted(
        str(p) for p in (tmp_path / "events.parquet").glob("*.parquet")
    )[0]
    assert (
        pq.ParquetFile(part).metadata.row_group(0).column(1).physical_type
        != "INT96"
    )
    assert events_ts_unit(out) == "us"

    back = load_table(spark, str(tmp_path), "events")
    assert back.schema["ts"].dataType == events.schema["ts"].dataType
    a = sorted(tuple(r) for r in events.select("event_id", "ts").collect())
    b = sorted(tuple(r) for r in back.select("event_id", "ts").collect())
    assert a == b

    # foreign INT96 file (legacy writer): probe must pick the
    # TimestampType branch, and the reload must still match
    legacy_root = tmp_path / "legacy"
    legacy = str(legacy_root / "events.parquet")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try:
        events.write.mode("overwrite").parquet(legacy)
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    part = sorted(
        str(p) for p in (legacy_root / "events.parquet").glob("*.parquet")
    )[0]
    assert (
        pq.ParquetFile(part).metadata.row_group(0).column(1).physical_type
        == "INT96"
    )
    assert events_ts_unit(legacy) == "us"
    c = sorted(
        tuple(r)
        for r in load_table(spark, str(legacy_root), "events")
        .select("event_id", "ts")
        .collect()
    )
    assert a == c


def test_merge_schema_read_across_file_generations(spark, tmp_path):
    """Schema evolution on read: a directory holding an old-generation
    file (no o_comment) and a new-generation file (with it) reads as
    the union schema under mergeSchema, old rows NULL-filled — the
    contract for evolving a 100 TB table in place without rewriting
    history."""
    from pyspark.sql import functions as F

    from odoo_batch_processing_spark.sources.loader import load_table

    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    out = str(tmp_path / "evolving")
    orders.filter(F.col("o_orderkey") % 2 == 0).write.mode("append").parquet(out)
    orders.filter(F.col("o_orderkey") % 2 == 1).withColumn(
        "o_comment", F.concat(F.lit("c-"), F.col("o_orderkey"))
    ).write.mode("append").parquet(out)

    merged = spark.read.option("mergeSchema", "true").parquet(out)
    assert set(merged.columns) == {"o_orderkey", "o_orderstatus", "o_comment"}
    n = orders.count()
    assert merged.count() == n
    nulls = merged.filter(F.col("o_comment").isNull()).count()
    assert nulls == orders.filter(F.col("o_orderkey") % 2 == 0).count()


def test_staged_once_builds_reuses_and_rebuilds_torn(tmp_path):
    """sinks.staged_once: builds when absent, reuses when marked,
    rebuilds when the marker is missing (torn build), and re-keys when
    the source content changes."""
    import os

    from odoo_batch_processing_spark.sources.sinks import staged_once

    src = tmp_path / "corpus.txt"
    src.write_text("v1")
    calls = []

    def build(d):
        calls.append(d)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "artifact"), "w") as fh:
            fh.write("built")

    p1 = staged_once("t-staged", str(src), build)
    assert len(calls) == 1 and os.path.exists(os.path.join(p1, "_STAGED"))
    p2 = staged_once("t-staged", str(src), build)
    assert p2 == p1 and len(calls) == 1  # reused, no rebuild

    # torn build: artifact present but marker gone -> rebuilt in place
    os.remove(os.path.join(p1, "_STAGED"))
    p3 = staged_once("t-staged", str(src), build)
    assert p3 == p1 and len(calls) == 2

    # rewritten source -> different key -> fresh build elsewhere
    import time as _t

    _t.sleep(0.01)
    src.write_text("v2-longer")
    p4 = staged_once("t-staged", str(src), build)
    assert p4 != p1 and len(calls) == 3


def test_staged_once_releases_the_builds_pins(spark, tmp_path):
    """The build's materialize_once pins end with the build, so a
    session that built the artifact caches no more than one that found
    it staged; a pin taken before the call stays."""
    from pyspark import StorageLevel

    from odoo_batch_processing_spark.session import materialize_once, release_materialized
    from odoo_batch_processing_spark.sources.sinks import staged_once

    src = tmp_path / "corpus.txt"
    src.write_text("v1")
    settle(spark)
    outer = materialize_once(spark.range(5).withColumn("outer", F.lit(1)))
    pinned = []

    def build(d):
        inner = materialize_once(spark.range(7).withColumn("inner", F.lit(2)))
        inner.write.mode("overwrite").parquet(d)
        pinned.append(inner)

    try:
        staged_once("t-scoped", str(src), build)
        assert pinned[0].storageLevel == StorageLevel.NONE
        assert outer.storageLevel != StorageLevel.NONE
    finally:
        release_materialized()


def test_staged_once_atomic_commit_never_merges(tmp_path, monkeypatch):
    """ADVICE r6 #1: the keyed path must only ever appear fully built.
    (a) A non-idempotent APPENDING builder rerun after a torn build
    must not double rows — the rebuild lands in a private temp dir,
    so leftover part files are unreachable. (b) A marker-less leftover
    directory at the keyed path is replaced wholesale, never merged.
    (c) A racer that commits while our build is in flight wins; our
    copy is discarded, not interleaved."""
    import os
    import shutil

    from odoo_batch_processing_spark.sources import sinks
    from odoo_batch_processing_spark.sources.sinks import staged_once

    src = tmp_path / "corpus.txt"
    src.write_text("v1")

    def appending_build(d):
        # deliberately append-style: one new part file per invocation
        os.makedirs(d, exist_ok=True)
        n = len(os.listdir(d))
        with open(os.path.join(d, f"part-{n}"), "w") as fh:
            fh.write("rows")

    p1 = staged_once("t-atomic", str(src), appending_build)
    parts = [f for f in os.listdir(p1) if f.startswith("part-")]
    assert parts == ["part-0"]

    # (a)+(b): torn build — marker gone, committed part files left behind.
    # Old behavior appended part-1 beside part-0 (doubled rows); the
    # atomic build must end with exactly one part file again.
    os.remove(os.path.join(p1, "_STAGED"))
    p2 = staged_once("t-atomic", str(src), appending_build)
    assert p2 == p1
    parts = [f for f in os.listdir(p2) if f.startswith("part-")]
    assert parts == ["part-0"]

    # (c): a racer commits the keyed path while our builder runs; the
    # loser must keep the racer's artifact intact and discard its own.
    shutil.rmtree(p1)

    def racing_build(d):
        appending_build(d)
        os.makedirs(p1, exist_ok=True)
        with open(os.path.join(p1, "winner"), "w") as fh:
            fh.write("racer")
        with open(os.path.join(p1, "_STAGED"), "w"):
            pass

    p3 = staged_once("t-atomic", str(src), racing_build)
    assert p3 == p1
    assert os.path.exists(os.path.join(p1, "winner"))
    assert not os.path.exists(os.path.join(p1, "part-0"))
    # no stranded temp dirs from the lost race
    assert not [
        e for e in os.listdir(sinks._SCRATCH) if e.startswith("stagetmp-t-atomic")
    ]


def test_staged_once_never_deletes_a_racing_commit(tmp_path, monkeypatch):
    """ADVICE r7 #2: a COMMITTED artifact must never be deleted. The
    old code rmtree'd a marker-less leftover — a racer's rename landing
    between the marker check and the delete destroyed its freshly
    committed artifact. The fix moves the leftover aside by atomic
    rename, re-checks the marker on the aside dir, and RESTORES a
    commit it turns out to have moved.

    Deterministic replay: the keyed path holds a real commit (marker +
    'winner' file), but the _marker_present seam reports it absent for
    the first two checks (top-of-call + leftover-branch) — exactly the
    window where a racer's rename lands after our checks. staged_once
    must end with the racer's commit intact at the keyed path and our
    build discarded."""
    import os

    from odoo_batch_processing_spark.sources import sinks

    src = tmp_path / "corpus.txt"
    src.write_text("v1")

    # seed the racer's committed artifact at the keyed path
    def racer_build(d):
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "winner"), "w") as fh:
            fh.write("racer")

    p = sinks.staged_once("t-toctou", str(src), racer_build)
    assert os.path.exists(os.path.join(p, "_STAGED"))

    real = sinks._marker_present
    calls = {"n": 0}

    def late_marker(path):
        # the commit is "invisible" until the code has already decided
        # the path is a marker-less leftover (checks 1 and 2)
        if path == p:
            calls["n"] += 1
            if calls["n"] <= 2:
                return False
        return real(path)

    monkeypatch.setattr(sinks, "_marker_present", late_marker)
    built = []
    p2 = sinks.staged_once("t-toctou", str(src), lambda d: built.append(d))
    assert p2 == p
    # the racer's commit survived wholesale; ours (empty build) discarded
    assert os.path.exists(os.path.join(p, "winner"))
    assert os.path.exists(os.path.join(p, "_STAGED"))
    assert built  # our build DID run — and was then thrown away
    assert calls["n"] >= 2  # the faked window was actually exercised


def test_parse_size_bytes_spark_conf_forms(spark):
    """ADVICE r6 #3: the adaptive small-values ordinal compares the
    values-relation size against spark.sql.autoBroadcastJoinThreshold,
    whose DEFAULT string form is byte-suffixed ('10485760b') — int()
    raised and silently disabled the path. parse_size_bytes must
    accept every Spark byte-size shape, including the live session's
    actual conf value."""
    from odoo_batch_processing_spark.operators.bulk_update import parse_size_bytes

    assert parse_size_bytes("10485760b") == 10 * 1024 * 1024
    assert parse_size_bytes("10MB") == 10 * 1024 * 1024
    assert parse_size_bytes("1g") == 1 << 30
    assert parse_size_bytes("512") == 512
    assert parse_size_bytes("-1") == -1
    assert parse_size_bytes(" 4 kb ") == 4096
    with pytest.raises(ValueError):
        parse_size_bytes("10 lightyears")
    # the live default must parse and enable the adaptive path
    live = parse_size_bytes(spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    assert live > 0


def test_staged_once_threaded_race_stress(tmp_path):
    """Eight builders race staged_once on the SAME content key, with
    jittered build durations. Invariants under any interleaving: every
    caller gets the same committed path; the marker is present; the
    artifact is exactly ONE builder's output (never a merge — the
    payload file identifies its builder and must be internally
    consistent); no builder's crash-equivalent (slow loser) corrupts
    it. Complements the deterministic TOCTOU replay above with real
    scheduling nondeterminism."""
    import os
    import threading
    import time as _time

    from odoo_batch_processing_spark.sources import sinks

    src = tmp_path / "corpus.txt"
    src.write_text("race-v1")

    results, errors = [], []

    def make_build(tag, delay):
        def build(d):
            os.makedirs(d, exist_ok=True)
            _time.sleep(delay)
            with open(os.path.join(d, "payload"), "w") as fh:
                fh.write(f"builder-{tag}\n" * 3)
            with open(os.path.join(d, "who"), "w") as fh:
                fh.write(str(tag))
        return build

    def run(tag, delay):
        try:
            results.append(sinks.staged_once("t-race", str(src), make_build(tag, delay)))
        except Exception as exc:  # noqa: BLE001 - surface in main thread
            errors.append(exc)

    threads = [
        threading.Thread(target=run, args=(t, 0.01 * (t % 4)))
        for t in range(8)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert not errors, errors
    assert len(set(results)) == 1
    path = results[0]
    assert os.path.exists(os.path.join(path, "_STAGED"))
    who = open(os.path.join(path, "who")).read()
    payload = open(os.path.join(path, "payload")).read()
    # the artifact is one builder's output, internally consistent
    assert payload == f"builder-{who}\n" * 3


def test_staged_once_rescues_commit_when_restore_is_wedged(tmp_path, monkeypatch):
    """ADVICE r9: if the restore rename (aside -> path) fails because a
    THIRD racer occupied the keyed path with a marker-less dir, the
    committed artifact must NOT be left stranded under the TTL-swept
    stagetmp-aside-* prefix — it is moved to a sweep-exempt keyed-
    rescue sibling and returned, so 'a COMMITTED artifact is never
    deleted' survives even this interleaving.

    Deterministic replay: the keyed path holds a commit made invisible
    for the first two marker checks (the TOCTOU window), so staged_once
    moves it aside; the moment the aside dir's marker is checked, the
    'third racer' plants a marker-less dir at the keyed path, wedging
    every restore retry. staged_once must return a marker-bearing
    rescue path containing the racer's payload."""
    import os
    import shutil

    from odoo_batch_processing_spark.sources import sinks

    src = tmp_path / "corpus.txt"
    src.write_text("wedge-v1")

    def racer_build(d):
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "winner"), "w") as fh:
            fh.write("racer")

    p = sinks.staged_once("t-wedge", str(src), racer_build)
    assert os.path.exists(os.path.join(p, "_STAGED"))
    # age the committed artifact: os.rename PRESERVES this mtime, so
    # without the post-rescue utime the rescue dir would start its
    # 7-day TTL ten days in the past (ADVICE r10)
    import time

    stale = time.time() - 10 * 86400
    os.utime(p, (stale, stale))

    real = sinks._marker_present
    state = {"hidden": 0, "planted": False}

    def seam(path):
        if path == p and state["hidden"] < 2:
            state["hidden"] += 1
            return False  # the racer's commit is invisible pre-aside
        if "stagetmp-aside-t-wedge" in os.path.basename(path) and not state["planted"]:
            # third racer lands a marker-less dir at the keyed path the
            # instant the aside dir is inspected -> restore is wedged
            os.makedirs(p, exist_ok=True)
            with open(os.path.join(p, "squatter"), "w") as fh:
                fh.write("marker-less")
            state["planted"] = True
        return real(path)

    monkeypatch.setattr(sinks, "_marker_present", seam)
    rescued = None
    try:
        rescued = sinks.staged_once("t-wedge", str(src), lambda d: os.makedirs(d, exist_ok=True))
        assert state["planted"]  # the wedge was actually exercised
        # the commit is alive, marked, and NOT under a TTL-swept prefix
        assert os.path.exists(os.path.join(rescued, "_STAGED"))
        assert os.path.exists(os.path.join(rescued, "winner"))
        assert os.path.basename(rescued).startswith(sinks._KEYED_PREFIX)
        # TTL clock restarted at rescue time, not write time: the
        # pre-aged mtime must have been refreshed to ~now
        assert time.time() - os.stat(rescued).st_mtime < 300
    finally:
        for d in (rescued, p):
            if d and os.path.isdir(d):
                shutil.rmtree(d, ignore_errors=True)


def test_rescue_dirs_swept_by_dedicated_ttl(tmp_path, monkeypatch):
    """Rescue dirs are a bounded leak, not a permanent one (ADVICE
    r10): the sweep reclaims them after the dedicated 7-day TTL while
    ordinary keyed- index dirs stay exempt at any age."""
    import os
    import time

    from odoo_batch_processing_spark.sources import sinks

    root = str(tmp_path)
    old = time.time() - sinks._RESCUE_TTL_SECONDS - 60
    young = time.time() - sinks._SCRATCH_TTL_SECONDS - 60  # > plain TTL, < rescue TTL

    def mk(name, mtime):
        p = os.path.join(root, name)
        os.makedirs(p)
        os.utime(p, (mtime, mtime))
        return p

    keep_keyed = mk("keyed-index-abc", old)          # exempt forever
    keep_rescue = mk("keyed-rescue-x-1", young)      # under rescue TTL
    drop_rescue = mk("keyed-rescue-x-2", old)        # past rescue TTL
    drop_plain = mk("stagetmp-aside-x-3", young)     # past plain TTL

    sinks._sweep_stale(root)
    assert os.path.exists(keep_keyed)
    assert os.path.exists(keep_rescue)
    assert not os.path.exists(drop_rescue)
    assert not os.path.exists(drop_plain)


def test_retired_keyed_layouts_swept_by_bounded_ttl(tmp_path):
    """Review r15: a version-bumped standing index (minhash-index-v2 →
    v3) strands its old-version dirs under the sweep-exempt keyed-
    prefix with no reader ever opening them again — they must age out
    on the bounded rescue TTL instead of leaking forever, while the
    CURRENT version stays exempt at any age."""
    import os
    import time

    from odoo_batch_processing_spark.sources import sinks

    root = str(tmp_path)
    old = time.time() - sinks._RESCUE_TTL_SECONDS - 60

    def mk(name, mtime):
        p = os.path.join(root, name)
        os.makedirs(p)
        os.utime(p, (mtime, mtime))
        return p

    keep_current = mk("keyed-minhash-index-v3-aaaa", old)   # exempt forever
    keep_young = mk("keyed-minhash-index-v2-bbbb", time.time() - 60)
    drop_retired = mk("keyed-minhash-index-v2-cccc", old)   # past bounded TTL

    sinks._sweep_stale(root)
    assert os.path.exists(keep_current)
    assert os.path.exists(keep_young)
    assert not os.path.exists(drop_retired)
