"""Pure measurement arithmetic: percentiles, span self time, open-loop
latency and micro-batch to file mapping. No Spark imports, so the
tests in ``perfbench/tests`` exercise it directly."""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail_percentile(samples, min_beyond: int = 10):
    """The highest whole percentile that has at least ``min_beyond``
    samples strictly beyond it, by nearest rank.

    Returns ``(percentile, value, n)``. With ``n`` samples the rank of
    percentile ``p`` is ``ceil(p * n / 100)``; ``n - rank >= min_beyond``
    gives ``p <= 100 * (n - min_beyond) / n``. When that percentile is
    below the median (fewer than ``2 * min_beyond + 1`` samples) the
    sample supports no tail, and the maximum is returned as percentile
    100, so the caller can still print a value and flag it.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("tail_percentile needs at least one sample")
    p = (100 * (n - min_beyond)) // n if n > min_beyond else 0
    if p <= 50:
        return 100, xs[-1], n
    rank = math.ceil(p * n / 100)
    return p, xs[rank - 1], n


def union_length(intervals) -> float:
    """Total length covered by a set of ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    start: float
    end: float


def self_times(spans) -> dict[str, float]:
    """Per span name: the summed span time minus the part of each span's
    interval that its direct children cover (children clipped to the
    parent, overlapping children counted once)."""
    children: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered = union_length(
            (max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.sid, ())
        )
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
    return out


def total_times(spans) -> dict[str, float]:
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start)
    return out


def open_loop_latencies(due, committed):
    """Latency of each open-loop operation, timed from when it was due
    (not from when the generator got round to it), so a stall is charged
    to every operation queued behind it."""
    if len(due) != len(committed):
        raise ValueError("one commit time per due time")
    return [c - d for d, c in zip(due, committed)]


def lateness(due, actual):
    """How late the generator issued each operation (never negative)."""
    return [max(0.0, a - d) for d, a in zip(due, actual)]


def map_batches_to_files(progress, file_rows):
    """Pair the micro-batches that read data with the dropped files.

    With ``maxFilesPerTrigger=1`` and files dropped one at a time in
    modification-time order, the k-th non-empty batch reads the k-th
    file. Each pairing is checked against the batch's ``numInputRows``;
    returns ``(pairs, mismatches)`` where ``pairs`` is a list of
    ``(file_index, progress)`` and ``mismatches`` lists the file indexes
    whose row count did not match (or that no batch read).
    """
    batches = sorted(
        (p for p in progress if p["numInputRows"] > 0), key=lambda p: p["batchId"]
    )
    pairs, mismatches = [], []
    for i, rows in enumerate(file_rows):
        if i >= len(batches):
            mismatches.append(i)
            continue
        if batches[i]["numInputRows"] != rows:
            mismatches.append(i)
        pairs.append((i, batches[i]))
    mismatches.extend(range(len(file_rows), len(batches)))
    return pairs, mismatches


def backlog_max(drop_times, commit_times) -> int:
    """Most files dropped but not yet committed at any drop instant."""
    commits = sorted(commit_times)
    worst = 0
    for k, t in enumerate(sorted(drop_times), start=1):
        done = sum(1 for c in commits if c <= t)
        worst = max(worst, k - done)
    return worst

