"""Spans recorded around the benchmark's calls into the package, plus
what Spark exposes with the UI off (planning tracker, status store,
streaming progress). The program itself is not instrumented: public
functions are wrapped at the module attributes their callers resolve.

Everything is kept in memory and summarised when the run ends."""

from __future__ import annotations

import functools
import json
import itertools
import sys
import threading
import time
from collections import Counter
from contextlib import contextmanager

from stats import Span, union_length

PACKAGE = "odoo_batch_processing_spark"


def swap_everywhere(original, replacement) -> list:
    """Rebind every package module attribute that holds ``original`` to
    ``replacement``, so callers that imported it by name resolve the
    replacement too. Returns what :func:`unswap` needs to undo it."""
    swapped = []
    for mod in list(sys.modules.values()):
        if mod is None or not getattr(mod, "__name__", "").startswith(PACKAGE):
            continue
        for key, value in list(vars(mod).items()):
            if value is original:
                setattr(mod, key, replacement)
                swapped.append((mod, key, original))
    return swapped


def unswap(swapped: list) -> None:
    for mod, key, original in reversed(swapped):
        setattr(mod, key, original)
    swapped.clear()


class Tracer:
    """In-memory span and count recorder. ``active`` gates recording so
    one invocation can interleave untraced and traced rounds."""

    def __init__(self):
        self.active = False
        self.spans: list[Span] = []
        self.counts: Counter = Counter()
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list = []

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, parent, name, t0, t1))

    def count(self, name: str, n: int = 1) -> None:
        if self.active:
            with self._lock:
                self.counts[name] += n

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped_original__ = fn
        return traced

    def patch(self, module, attr: str, name: str, wrapper=None) -> None:
        """Wrap ``module.attr`` wherever the package binds it."""
        original = getattr(module, attr)
        self._patched += swap_everywhere(original, wrapper or self.wrap(original, name))

    def restore(self) -> None:
        unswap(self._patched)


def catalyst_phases(df) -> dict[str, float]:
    """Seconds per planning phase of an executed DataFrame."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out


class ExecProbe:
    """Per-operation execution figures from the app status store.

    ``begin`` sets a benchmark job group on the calling thread; ``end``
    attributes to the operation every new job in that group, plus every
    new job submitted inside the operation's window (streaming jobs run
    on their own threads under their own group)."""

    FIELDS = (
        "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
        "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "peak_execution_mb",
        "driver_side_s",
    )

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        jvm = spark._jvm
        self._empty = jvm.java.util.ArrayList()
        self._quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self._last_job = self._max_job_id()
        self._seen_stages: set = set()
        self.totals = Counter()
        self.ops = 0
        self._t0 = 0.0
        self._group = None

    def _max_job_id(self) -> int:
        it = self.store.jobsList(None).iterator()
        return it.next().jobId() if it.hasNext() else -1

    def begin(self, op_id: str) -> None:
        self._group = f"perfbench-{op_id}"
        self.sc.setJobGroup(self._group, self._group)
        self._t0 = time.time()

    def end(self, busy=None) -> None:
        """Attribute the operation's jobs. ``driver_side_s`` is the time
        inside the ``busy`` windows (epoch-second pairs; default: the
        whole operation) that no job covers."""
        t1 = time.time()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        jobs = []
        it = self.store.jobsList(None).iterator()  # newest first
        newest = self._last_job
        while it.hasNext():
            j = it.next()
            jid = j.jobId()
            if jid <= self._last_job:
                break
            newest = max(newest, jid)
            group = j.jobGroup()
            sub = j.submissionTime()
            sub_s = sub.get().getTime() / 1000.0 if sub.isDefined() else t1
            if (group.isDefined() and group.get() == self._group) or self._t0 <= sub_s <= t1:
                done = j.completionTime()
                end_s = done.get().getTime() / 1000.0 if done.isDefined() else t1
                ids = j.stageIds()
                jobs.append((sub_s, end_s, [ids.apply(i) for i in range(ids.length())]))
        self._last_job = newest
        self.ops += 1
        self.totals["jobs"] += len(jobs)
        for w0, w1 in busy or [(self._t0, t1)]:
            covered = union_length((max(s, w0), min(e, w1)) for s, e, _ in jobs)
            self.totals["driver_side_s"] += max(0.0, (w1 - w0) - covered)
        for _, _, stage_ids in jobs:
            for sid in stage_ids:
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                self._add_stage(sid)

    def _add_stage(self, sid: int) -> None:
        try:
            data = self.store.stageAttempt(sid, 0, False, self._empty, False, self._quantiles)._1()
        except Exception:  # stage skipped or evicted: nothing ran
            return
        t = self.totals
        t["stages"] += 1
        t["tasks"] += data.numTasks()
        t["executor_run_s"] += data.executorRunTime() / 1000.0
        t["executor_cpu_s"] += data.executorCpuTime() / 1e9
        t["gc_s"] += data.jvmGcTime() / 1000.0
        t["shuffle_write_mb"] += data.shuffleWriteBytes() / 1e6
        t["shuffle_read_mb"] += data.shuffleReadBytes() / 1e6
        t["spill_mb"] += (data.memoryBytesSpilled() + data.diskBytesSpilled()) / 1e6
        t["peak_execution_mb"] += data.peakExecutionMemory() / 1e6

    def per_op(self) -> dict[str, float]:
        n = max(1, self.ops)
        return {f"exec.{k}": self.totals[k] / n for k in self.FIELDS}


def progress_record(d: dict) -> dict:
    """The fields of one StreamingQueryProgress (as parsed JSON) the
    benchmark uses."""
    return {
        "batchId": d["batchId"],
        "numInputRows": d.get("numInputRows", 0),
        "timestamp": d["timestamp"],
        "durationMs": dict(d.get("durationMs") or {}),
        "stateRows": sum(op.get("numRowsTotal", 0) for op in d.get("stateOperators") or []),
    }


STREAM_PHASES = {
    "streaming.trigger_s": "triggerExecution",
    "streaming.add_batch_s": "addBatch",
    "streaming.latest_offset_s": "latestOffset",
    "streaming.query_planning_s": "queryPlanning",
    "streaming.wal_commit_s": "walCommit",
    "streaming.commit_offsets_s": "commitOffsets",
}


def stream_phase_medians(progress) -> dict[str, float]:
    """Median seconds per trigger phase over batches that read data."""
    from stats import median

    data = [p for p in progress if p["numInputRows"] > 0]
    return {
        name: median([p["durationMs"].get(key, 0) / 1000.0 for p in data])
        for name, key in STREAM_PHASES.items()
    }


def make_progress_listener(sink: list):
    """A StreamingQueryListener that appends each progress record to
    ``sink`` (used where the benchmark does not own the query)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            sink.append(progress_record(json.loads(event.progress.json)))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()
