"""Tests for the benchmark's own arithmetic and bookkeeping. No Spark:
run with ``python3 -m pytest perfbench/tests -q``."""

from __future__ import annotations

import math
import os
import sys
import types

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import stats  # noqa: E402
from tracer import PACKAGE, Tracer, unswap, swap_everywhere  # noqa: E402


# -- tail percentile -----------------------------------------------------------
@pytest.mark.parametrize("n", [21, 22, 30, 40, 99, 100, 101, 1000])
def test_tail_percentile_keeps_ten_samples_beyond(n):
    xs = list(range(n))
    p, value, count = stats.tail_percentile(xs)
    assert count == n
    rank = math.ceil(p * n / 100)
    assert value == xs[rank - 1]
    assert n - rank >= 10
    # one percent higher would leave fewer than ten beyond it
    assert p == 99 or n - math.ceil((p + 1) * n / 100) < 10


def test_tail_percentile_known_values():
    xs = [float(i) for i in range(1, 101)]
    assert stats.tail_percentile(xs) == (90, 90.0, 100)
    assert stats.tail_percentile(list(range(30)))[:2] == (66, 19)


def test_tail_percentile_too_few_samples_reports_max():
    assert stats.tail_percentile([3.0, 1.0, 2.0]) == (100, 3.0, 3)
    assert stats.tail_percentile([1.0] * 10)[0] == 100
    # 11 to 20 samples: ten beyond leaves no percentile above the median
    for n in (11, 13, 20):
        assert stats.tail_percentile(list(range(n))) == (100, n - 1, n)
    assert stats.tail_percentile(list(range(21)))[0] == 52
    with pytest.raises(ValueError):
        stats.tail_percentile([])


def test_tail_percentile_ignores_input_order():
    rng = np.random.default_rng(0)
    xs = rng.random(57).tolist()
    assert stats.tail_percentile(xs) == stats.tail_percentile(sorted(xs, reverse=True))


# -- self time from span trees ----------------------------------------------
def test_union_length_merges_overlaps():
    assert stats.union_length([(0, 2), (1, 3), (5, 6), (6, 6)]) == 4
    assert stats.union_length([]) == 0


def test_self_time_subtracts_covered_child_time_once():
    S = stats.Span
    spans = [
        S(1, None, "op", 0.0, 10.0),
        S(2, 1, "a", 1.0, 3.0),
        S(3, 1, "a", 2.0, 5.0),  # overlaps its sibling: counted once
        S(4, 1, "b", 8.0, 12.0),  # runs past its parent: clipped
        S(5, 2, "c", 1.5, 2.5),  # grandchild: only its own parent loses it
    ]
    selfs = stats.self_times(spans)
    assert selfs["op"] == pytest.approx(10 - (4 + 2))
    assert selfs["a"] == pytest.approx((2 - 1) + 3)
    assert selfs["b"] == pytest.approx(4)
    assert selfs["c"] == pytest.approx(1)
    assert stats.total_times(spans)["a"] == pytest.approx(5)


def test_tracer_records_parent_links_and_self_time():
    tr = Tracer()
    tr.active = True
    with tr.span("op"):
        with tr.span("layer"):
            pass
    tr.active = False
    with tr.span("ignored"):
        pass
    by_name = {s.name: s for s in tr.spans}
    assert set(by_name) == {"op", "layer"}
    assert by_name["layer"].parent == by_name["op"].sid
    assert by_name["op"].parent is None
    selfs = stats.self_times(tr.spans)
    assert selfs["op"] <= by_name["op"].end - by_name["op"].start


def test_patch_rebinds_every_module_attribute_and_restores():
    def public(x):
        return x + 1

    owner = types.ModuleType(f"{PACKAGE}._perfbench_owner")
    owner.public = public
    caller = types.ModuleType(f"{PACKAGE}._perfbench_caller")
    caller.public = public  # as after ``from owner import public``
    outsider = types.ModuleType("_perfbench_outsider")
    outsider.public = public
    sys.modules.update({m.__name__: m for m in (owner, caller, outsider)})
    try:
        tr = Tracer()
        tr.patch(owner, "public", "layer.public")
        assert caller.public is owner.public is not public
        assert outsider.public is public
        tr.active = True
        assert caller.public(1) == 2
        assert [s.name for s in tr.spans] == ["layer.public"]
        tr.restore()
        assert caller.public is owner.public is public
        swapped = swap_everywhere(public, abs)
        assert caller.public is abs
        unswap(swapped)
        assert caller.public is public
    finally:
        for m in (owner, caller, outsider):
            sys.modules.pop(m.__name__)


# -- open loop ----------------------------------------------------------------
def test_open_loop_latency_is_timed_from_due_time():
    due = [0.0, 1.0, 2.0, 3.0]
    # the second operation stalls; the two queued behind it pay for it
    committed = [0.4, 2.9, 3.2, 3.5]
    assert stats.open_loop_latencies(due, committed) == pytest.approx([0.4, 1.9, 1.2, 0.5])
    with pytest.raises(ValueError):
        stats.open_loop_latencies(due, committed[:2])


def test_generator_lateness_never_negative():
    assert stats.lateness([0.0, 1.0, 2.0], [0.01, 0.99, 2.5]) == pytest.approx([0.01, 0.0, 0.5])


def test_backlog_counts_dropped_but_uncommitted_files():
    drops = [0.0, 1.0, 2.0, 3.0]
    assert stats.backlog_max(drops, [0.5, 1.5, 2.5, 3.5]) == 1
    assert stats.backlog_max(drops, [2.5, 2.6, 3.4, 3.5]) == 3


# -- micro-batches to files ---------------------------------------------------
def _progress(batch_id, rows):
    return {"batchId": batch_id, "numInputRows": rows}


def test_batches_map_to_files_in_order_skipping_empty_batches():
    sizes = [101, 102, 103]
    progress = [_progress(2, 102), _progress(0, 101), _progress(1, 0), _progress(3, 103)]
    pairs, mismatches = stats.map_batches_to_files(progress, sizes)
    assert mismatches == []
    assert [(i, p["batchId"]) for i, p in pairs] == [(0, 0), (1, 2), (2, 3)]


def test_batch_mapping_flags_row_count_mismatch_and_missing_files():
    pairs, mismatches = stats.map_batches_to_files([_progress(0, 102), _progress(1, 101)], [101, 102, 103])
    assert mismatches == [0, 1, 2]
    assert len(pairs) == 2
    _, extra = stats.map_batches_to_files([_progress(0, 5), _progress(1, 6)], [5])
    assert extra == [1]


def test_open_loop_run_time_is_busy_time_not_schedule():
    from w_stream import busy_s, trigger_window

    def batch(ts, ms):
        return {"timestamp": ts, "durationMs": {"triggerExecution": ms}}

    # two batches 0.8 s apart: the engine was busy 0.75 s of the 1.3 s
    batches = [batch("2026-01-01T00:00:00.000Z", 500), batch("2026-01-01T00:00:00.800Z", 250)]
    assert busy_s(batches) == pytest.approx(0.75)
    start, end = trigger_window(batches[1])
    assert end - start == pytest.approx(0.25)
    assert start - trigger_window(batches[0])[0] == pytest.approx(0.8)


# -- CPU accounting ---------------------------------------------------------------
def test_cpu_parts_count_the_workers_of_the_jvm_reaped_or_live():
    import subprocess
    import time

    import host

    # a stand-in for the driver JVM: it runs one spinning worker, reaps
    # it, and waits
    spin = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass"
    fake_jvm = subprocess.Popen(
        [sys.executable, "-c", f"import subprocess, sys, time\n"
         f"subprocess.run([sys.executable, '-c', {spin!r}])\ntime.sleep(60)"]
    )
    try:
        deadline = time.time() + 30
        parts = host.cpu_parts(os.getpid(), fake_jvm.pid)
        while parts["python_workers"] < 0.3 and time.time() < deadline:
            time.sleep(0.05)
            parts = host.cpu_parts(os.getpid(), fake_jvm.pid)
    finally:
        fake_jvm.kill()
        fake_jvm.wait()
    assert parts["python_workers"] >= 0.3
    assert parts["jit"] == 0
    assert parts["jvm"] < parts["python_workers"]
    delta = host.cpu_delta(parts, parts)
    assert delta["program"] == 0 and set(delta) == set(host.CPU_PARTS)


# -- inputs ---------------------------------------------------------------------
def test_generated_inputs_depend_only_on_the_seed():
    a = gen.listview_table(np.random.default_rng(7), 500)
    b = gen.listview_table(np.random.default_rng(7), 500)
    c = gen.listview_table(np.random.default_rng(8), 500)
    assert a.equals(b) and not a.equals(c)
    t1, t2 = gen.catalog_tables(3, scale=0.001), gen.catalog_tables(3, scale=0.001)
    assert all(t1[k].equals(t2[k]) for k in t1)
    li = t1["lineitem"].to_pandas()
    assert not li.duplicated(["l_orderkey", "l_linenumber"]).any()

