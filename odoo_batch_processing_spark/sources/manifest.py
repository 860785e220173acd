"""The manifest change feed: parquet paths from an append-only
manifest (the notification-queue front for the file source).

Reference analog: the MutationObserver source (R22,
Odoo-Batch-Processing.user.js:145-163) is a *push* notification —
the observer is told "a new list view arrived"; it never rescans the
whole DOM. Spark's built-in file streaming source is the opposite: a
*pull* that re-lists the entire directory on the driver at every
trigger, O(total files ever ingested) per trigger. The SCALE_BATCHES
listing ladder (tools/scale_batches.py) measures where that binds.

The manifest protocol is the spool, :func:`manifest_file_stream`:

* the "queue" is an append-only manifest file, one parquet path per
  line (in production: SQS / PubSub / Kafka notifications — the
  manifest file is the dependency-free stand-in with the same
  complexity class);
* discovery is :class:`ManifestTail`: one ``os.stat`` plus a
  tail-read of only the NEW bytes since the last scan — O(new
  arrivals), independent of how many files were ever ingested;
* :class:`ManifestSpoolPump` hard-links each newly listed file into a
  spool directory watched by Spark's built-in parquet file source
  (vectorized scan, whole-stage codegen, no rows through Python);
  ``cleanSource=delete`` keeps the spool listing O(unprocessed);
* the pump's position is a byte offset in the manifest, persisted to
  an optional cursor sidecar (place it inside the query's checkpoint
  dir), so a restarted pump links only entries it has not released.

The swap is plan- and value-preserving: the spool stream is
:func:`streaming.sources.change_source` over the spool directory, so
every transformation above the scan is identical — asserted in
tests/test_manifest_source.py, and composed with state-store recovery
under both providers in tests/test_streaming_recovery.py.
"""

from __future__ import annotations

import errno
import os


class ManifestTail:
    """Incremental reader of an append-only manifest: tracks the byte
    position already scanned (``scanned``) and the complete lines seen
    but not yet released (``pending``). Each :meth:`poll_released`
    stats the file, tail-reads ONLY the new bytes, and releases up to
    ``max_lines`` lines — O(new bytes + released lines), never O(file).

    Pure driver-side state machine, unit-tested without Spark
    (tests/test_manifest_source.py)."""

    def __init__(self, path: str):
        self.path = path
        self.scanned = 0  #: bytes consumed into pending (+ remainder)
        self.released = 0  #: byte offset of the released boundary
        self._pending: list[bytes] = []  #: complete lines, keepends
        self._remainder = b""  #: trailing partial line

    def poll_released(
        self, max_lines: int | None = None
    ) -> tuple[int, list[bytes]]:
        """Release up to ``max_lines`` complete lines; returns the new
        released byte offset (always a line boundary) and the raw
        released lines (keepends), so callers act on the range without
        a second disk read of bytes this object just tail-read."""
        try:
            size = os.path.getsize(self.path)
        except OSError:
            size = 0
        if size > self.scanned:
            with open(self.path, "rb") as fh:
                fh.seek(self.scanned)
                chunk = self._remainder + fh.read(size - self.scanned)
            self.scanned = size
            lines = chunk.splitlines(keepends=True)
            if lines and not lines[-1].endswith(b"\n"):
                self._remainder = lines.pop()
            else:
                self._remainder = b""
            self._pending.extend(lines)
        n = len(self._pending) if max_lines is None else min(max_lines, len(self._pending))
        released: list[bytes] = []
        if n:
            released = self._pending[:n]
            self.released += sum(len(ln) for ln in released)
            del self._pending[:n]
        return self.released, released

    def fast_forward(self, pos: int) -> None:
        """Jump the release cursor to ``pos`` (a line boundary already
        delivered — restart catch-up from a cursor). Pending lines
        below ``pos`` are dropped in one slice (a pop(0) loop here is
        O(n²) over a large delivered backlog — exactly the restart
        case this method serves); if ``pos`` is beyond the scanned
        region the buffers reset and the next poll resumes
        tail-reading from ``pos``."""
        if pos <= self.released:
            return
        n, acc = 0, self.released
        for ln in self._pending:
            if acc >= pos:
                break
            acc += len(ln)
            n += 1
        if n:
            self.released = acc
            del self._pending[:n]
        if self.released < pos:  # beyond everything scanned so far
            self.released = pos
            self._pending = []
            self._remainder = b""
        self.scanned = max(self.scanned, self.released)


def _read_cursor(path: str | None) -> int:
    if not path or not os.path.exists(path):
        return 0
    try:
        with open(path) as fh:
            return int(fh.read().strip() or 0)
    except (OSError, ValueError):
        return 0


def _write_cursor(path: str, pos: int) -> None:
    """Atomic, monotone write (a crashed write leaves the previous
    value; a smaller position never lands). The read-back guards a
    SECOND writer of the same path (a zombie pump delivering a late
    write after its replacement advanced the file, or two streams
    misconfigured onto one cursor): without it, such a write would
    regress the durable position and a later restart would re-link
    the regressed range."""
    if pos <= _read_cursor(path):
        return
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as fh:
        fh.write(str(pos))
    os.replace(tmp, path)


class ManifestSpoolPump:
    """The manifest protocol's driver half: O(new) discovery, with
    every ROW left to Spark's built-in parquet file source.

    The pump owns a :class:`ManifestTail` over the append-only
    manifest. Each :meth:`pump` tail-reads only the NEW manifest bytes
    and hard-links each newly listed parquet file into ``spool_dir`` —
    O(new files) metadata work on the driver, zero bytes copied (a
    hard link shares the inode) and zero rows through Python. The
    built-in JVM file source watches the spool; with
    ``cleanSource=delete`` it unlinks each spool entry after
    processing, so the spool listing stays O(unprocessed) ≈ O(new)
    rather than O(all ever ingested) — the listing knee that motivates
    the manifest protocol (SCALE_BATCHES listing ladder) never forms,
    and the staged originals survive (their inode keeps a second
    link).

    Production analog: a tiny notification-consumer daemon in front of
    Auto-Loader-style file streams — the queue tells you what arrived,
    the link publishes it to the watched prefix, the JVM scan (whole-
    stage codegen, vectorized parquet) does the data plane. The pump
    is pure driver-side file metadata and is unit-testable without
    Spark.

    ``cursor`` (optional sidecar file) makes the pump's position
    durable across restarts; already-linked files are skipped by name
    on replay, so a crash between link and cursor write is
    idempotent.
    """

    def __init__(self, manifest_path: str, spool_dir: str, cursor: str | None = None):
        self.manifest_path = manifest_path
        self.spool_dir = spool_dir
        self.cursor = cursor
        os.makedirs(spool_dir, exist_ok=True)
        if cursor is not None:
            # the first pump precedes the query that creates its
            # checkpoint dir, the cursor's natural home
            os.makedirs(os.path.dirname(os.path.abspath(cursor)), exist_ok=True)
        self._tail = ManifestTail(manifest_path)
        pos = _read_cursor(cursor)
        if pos:
            self._tail.fast_forward(pos)

    def pump(self, max_lines: int | None = None) -> int:
        """Release up to ``max_lines`` manifest LINES, linking each
        non-blank one's file into the spool; returns how many lines
        this call released (0 means nothing new is listed — the
        loop-termination signal). The budget and the return value are
        both in LINE units, not files: a blank manifest line consumes
        budget and counts in the return without linking anything, so
        ``pump(k)`` may link fewer than ``k`` files (ADVICE r16 —
        throttled callers sizing triggers should budget lines)
        (review r16: returning files-linked instead made a released
        blank line terminate every documented drain loop early,
        silently dropping the entries behind it).

        Spool names are ``{byte_offset:012d}-{basename}``: the offset
        of the entry's manifest line is deterministic across restarts
        and chunkings, so a crash-replay re-derives the SAME name
        (FileExistsError → true idempotence) while two entries whose
        basenames collide (``day=1/part-0.parquet`` vs
        ``day=2/part-0.parquet``) get distinct names and BOTH deliver
        (review r16: a bare-basename spool silently dropped the second
        and advanced the cursor past it — unrecoverable data loss)."""
        start = self._tail.released
        end, lines = self._tail.poll_released(max_lines)
        base = os.path.dirname(os.path.abspath(self.manifest_path))
        offset = start
        for raw in lines:
            rel = raw.decode("utf-8").strip()
            if rel:
                src = rel if os.path.isabs(rel) else os.path.join(base, rel)
                dst = os.path.join(
                    self.spool_dir, f"{offset:012d}-{os.path.basename(src)}"
                )
                try:
                    os.link(src, dst)
                except FileExistsError:
                    pass  # crash-replay of an already-linked entry: idempotent
                except OSError as exc:
                    if exc.errno != errno.EXDEV:
                        raise
                    # spool on a different filesystem (tmpfs spool over
                    # a data mount): fall back to a symlink — still
                    # zero-copy, and cleanSource=delete removes only
                    # the link, exactly like the hard-link form
                    try:
                        os.symlink(src, dst)
                    except FileExistsError:
                        pass
            offset += len(raw)
        if self.cursor is not None and end > start:
            _write_cursor(self.cursor, end)
        return len(lines)


def manifest_file_stream(
    spark,
    manifest_path: str,
    spool_dir: str,
    max_files_per_trigger: int | None = None,
    cursor: str | None = None,
    schema=None,
):
    """(stream_df, pump): the manifest protocol with a 100% JVM data
    plane. ``stream_df`` is :func:`streaming.sources.change_source`
    over the spool directory — the plain built-in parquet file stream
    (vectorized scan, whole-stage codegen), with ``cleanSource=delete``
    keeping the spool listing O(unprocessed). The caller drives
    ``pump.pump(k)`` as notifications arrive (or on a timer), then the
    engine's normal triggers pick the linked files up."""
    from odoo_batch_processing_spark.streaming.sources import change_source

    pump = ManifestSpoolPump(manifest_path, spool_dir, cursor=cursor)
    if schema is None:
        # the ts-unit probe needs one real footer in the spool: prime
        # it with the first already-listed file (skipping blank
        # manifest lines), and fail LOUDLY if there is nothing to
        # probe — a cold start with an empty manifest, or a restart
        # whose cursor already consumed everything cleanSource
        # deleted, cannot infer a schema (review r16: this previously
        # surfaced as a bare FileNotFoundError from the unit probe)
        # any spool entry will do: the pump only links files the
        # manifest listed, so don't insist on a *.parquet suffix —
        # a suffix-matched glob here would pump the whole manifest
        # and then raise "lists no files" even though files WERE
        # linked (ADVICE r16)
        while not any(
            not f.startswith(("_", ".")) for f in os.listdir(spool_dir)
        ):
            if pump.pump(1) == 0:
                raise ValueError(
                    "manifest_file_stream: the spool is empty "
                    f"({spool_dir!r} has 0 entries) and the manifest "
                    "lists no (further) files, so the events ts-unit "
                    "probe has nothing to read — pass schema= to "
                    "construct the stream before data arrives"
                )
    df = change_source(
        spark,
        spool_dir,
        schema=schema,
        max_files_per_trigger=max_files_per_trigger,
        clean_source="delete",
    )
    return df, pump
