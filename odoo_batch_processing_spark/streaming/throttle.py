"""Throttled micro-batch bulk update with cooperative cancellation
(R18 + R19 + R15 accounting, streaming form).

Reference analog: the sequential update loop sleeps ``waitTime`` ms
between rows (Odoo-Batch-Processing.user.js:499, default 400 —
user.js:230) and checks an ``isCancelled`` flag each iteration
(user.js:421-425, 456-458); work committed before cancel stays
committed (§1.3). The Spark-native restatement:

* throttle   → ``trigger(processingTime='400 milliseconds')`` +
  ``maxFilesPerTrigger`` — rate limiting belongs to the TRIGGER, not a
  sleep in the data path;
* cancel     → ``query.stop()`` between micro-batches — cooperative,
  exactly like the loop-top flag check;
* partial    → micro-batches are committed units: everything written
  by completed batches survives a stop (the reference's
  half-complete-on-cancel semantics, which batch Spark cannot and
  should not reproduce — SURVEY.md §7.4);
* accounting → the batch run's guard, count and outcome rules
  (``bulk_update.row_guard``, ``tally_columns``, ``run_outcome``).
  The counts are observed on the micro-batch's PRE-update rows, the
  rule ``pin_guards`` enforces for the batch run, inside the parquet
  write (``DataFrame.observe``): each micro-batch is one Spark job
  with no cached copy and no pinned guard columns, and the counts are
  summed driver-side in ``foreachBatch`` once the write has returned.
  The guard and tally Columns are built once per run, on the first
  micro-batch; with that and the session's call-site capture off
  (``session.RUNTIME_CONFS``), a micro-batch makes about 50 py4j round
  trips, not about 350. They are classic-session (JVM) Columns: a
  Spark Connect session would need them rebuilt as Connect Columns.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql.streaming import StreamingQuery

from odoo_batch_processing_spark.operators.bulk_update import (
    broadcast_update,
    row_guard,
    run_outcome,
    tally_columns,
)


@dataclass
class ThrottledBulkUpdate:
    """Streaming constant-update run over an unbounded row source."""

    column: str
    value: str
    out_dir: str
    checkpoint_dir: str
    visible: Column | None = None
    editable: Column | None = None
    readonly: Column | None = None
    trigger_ms: int = 400  # the reference's default waitTime (user.js:230)

    success_count: int = 0
    #: visible guarded rows (readonly / non-editable) stepped over —
    #: the reference's `continue` (user.js:477-480) increments NEITHER
    #: success nor error for these; same split as BulkUpdateResult.
    #: Hidden rows count in neither.
    skipped_count: int = 0
    #: attempted updates that failed; 0 on the built-in functional
    #: paths (sink failures surface as exceptions, not counts).
    error_count: int = 0
    cancelled: bool = False
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False)
    _query: StreamingQuery | None = None
    #: the applied guard and the tally Columns, built on the first
    #: micro-batch (not in ``start``: a batch may be applied directly)
    _columns: tuple[Column, list[Column]] | None = field(default=None, init=False, repr=False)

    def _apply_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        if self._columns is None:
            applied = row_guard(self.visible, self.editable, self.readonly)
            self._columns = applied, tally_columns(row_guard(self.visible), applied)
        applied, tally = self._columns
        # one job: the write carries the outcome counts (R15), observed
        # on the rows before the update rewrites them
        counts = Observation()
        updated = broadcast_update(
            batch_df.observe(counts, *tally), self.column, self.value, visible=applied
        )
        updated.write.mode("append").parquet(self.out_dir)
        # read only once the write has returned: `get` blocks until an
        # action fills the observation, and a failed write raises above
        row = counts.get
        with self._lock:
            self.success_count += row["success_count"]
            self.skipped_count += row["skipped_count"]

    def start(self, stream_df: DataFrame, available_now: bool = False) -> StreamingQuery:
        writer = stream_df.writeStream.foreachBatch(self._apply_batch).option(
            "checkpointLocation", self.checkpoint_dir
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=f"{self.trigger_ms} milliseconds")
        self._query = writer.start()
        return self._query

    def cancel(self) -> None:
        """R19: cooperative stop; completed micro-batches stay
        committed (user.js:456-458 keeps prior rows' updates)."""
        with self._lock:
            self.cancelled = True
        if self._query is not None:
            self._query.stop()

    @property
    def outcome(self) -> str:
        """R16: the batch run's outcome rule, on the accumulated counts."""
        return run_outcome(self.success_count, self.error_count, self.cancelled)
