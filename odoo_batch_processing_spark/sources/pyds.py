"""Custom data source via the Python Data Source API (Spark 4).

The reference's only "source" beyond the current DOM table is the
MutationObserver that surfaces newly-arrived list views
(Odoo-Batch-Processing.user.js:145-163 — R22 in SURVEY.md §2); its
table model is the Odoo list view itself (user.js:125-188 — §1.1).
This module implements BOTH as one registered source, ``listview``:

* **batch**: `spark.read.format("listview").option("rows", n)` —
  generates the FIXTURES.md §B reference-semantics table
  (row_ord/visible/editable/readonly/qty/active/…) deterministically
  from a Knuth multiplicative hash of the row ordinal, split into
  range partitions so generation is executor-parallel.
* **stream**: `spark.readStream.format("listview")` — the same rows
  as an arrival stream (R22: "a new list view appeared"), offset =
  row position, chunked into micro-batch partitions.

Every field is pure integer arithmetic on the ordinal, so a DuckDB
oracle regenerates the relation exactly from ``range(n)`` — the
custom source sits under the same hash gate as every built-in path
(``r22_pyds_listview`` / ``s_r22_pyds_stream``, same oracle).

Scale posture, stated honestly: Python data sources execute in the
Python worker (Arrow-batched, but not JVM scan codegen) — the right
tool for protocol adapters and synthetic/test relations, NOT for
bulk columnar ingest where parquet/iceberg built-ins keep the scan
JVM-side. What DOES carry to 100 TB is the structure: range-split
``partitions()`` so N executors generate/fetch independently, and
offset-tracked micro-batches for exactly-once streaming.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

#: Knuth's multiplicative constant (2^32 / phi); same arithmetic as
#: curation.hash_bucket so the oracle is a one-line SQL expression.
_KNUTH = 2654435761
_MOD = 2**32

SCHEMA = (
    "row_ord bigint, row_id bigint, visible boolean, editable boolean, "
    "readonly boolean, name string, qty int, active boolean, partner_id bigint"
)


def _row(i: int) -> tuple:
    """The listview row at ordinal ``i`` (FIXTURES.md §B proportions:
    ~70% visible, ~10% readonly, ~95% editable)."""
    h = (i * _KNUTH) % _MOD
    return (
        i,  # row_ord — DOM position, load-bearing for R9 (user.js:447-452)
        h,  # row_id — stable record id
        (h % 10) < 7,  # visible (user.js:203, 434)
        (h // 100) % 100 < 95,  # editable (user.js:558-559)
        (h // 10) % 10 == 0,  # readonly (user.js:181, 477)
        f"row-{i}",  # name — default text widget
        int(h % 1000),  # qty — numeric widget
        (h // 7) % 2 == 0,  # active — checkbox widget
        h % 50,  # partner_id — many2one key (user.js:645-648)
    )


class _Range(InputPartition):
    def __init__(self, start: int, end: int):
        self.start, self.end = start, end


class _ListViewReader(DataSourceReader):
    def __init__(self, options):
        self.rows = int(options.get("rows", 1000))
        self.n_parts = int(options.get("numPartitions", 8))

    def partitions(self):
        step = max(1, -(-self.rows // self.n_parts))
        return [
            _Range(s, min(s + step, self.rows)) for s in range(0, self.rows, step)
        ]

    def read(self, partition: _Range):
        for i in range(partition.start, partition.end):
            yield _row(i)


class _ListViewStreamReader(DataSourceStreamReader):
    """Offset = next unread row ordinal. The synthetic table is fully
    available up front, so ``latestOffset`` exposes it all and the
    chunking happens in ``partitions`` — one range partition per
    ``chunk`` rows, the micro-batch's parallelism."""

    def __init__(self, options):
        self.rows = int(options.get("rows", 1000))
        self.chunk = int(options.get("chunk", 256))

    def initialOffset(self):
        return {"pos": 0}

    def latestOffset(self):
        return {"pos": self.rows}

    def partitions(self, start, end):
        s, e = start["pos"], end["pos"]
        return [
            _Range(lo, min(lo + self.chunk, e)) for lo in range(s, e, self.chunk)
        ]

    def read(self, partition: _Range):
        for i in range(partition.start, partition.end):
            yield _row(i)

    def commit(self, end):
        pass


class ListViewDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "listview"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema):
        return _ListViewReader(self.options)

    def streamReader(self, schema):
        return _ListViewStreamReader(self.options)


def register(spark) -> None:
    """Idempotent registration of the ``listview`` format."""
    spark.dataSource.register(ListViewDataSource)


#: shared oracle: regenerate the relation from range(n) with the same
#: integer arithmetic (DuckDB // is integer division on BIGINT)
_ORACLE = """
    SELECT i AS row_ord,
           h AS row_id,
           (h % 10) < 7 AS visible,
           ((h // 100) % 100) < 95 AS editable,
           ((h // 10) % 10) = 0 AS readonly,
           'row-' || i AS name,
           CAST(h % 1000 AS INTEGER) AS qty,
           ((h // 7) % 2) = 0 AS active,
           h % 50 AS partner_id
    FROM (
        SELECT range AS i, (range * 2654435761) % 4294967296 AS h
        FROM range(0, 1000)
    )
"""


def _q_r22_pyds_listview(spark, sf_dir):
    """Batch read through the registered Python data source."""
    register(spark)
    return spark.read.format("listview").option("rows", "1000").load()


def _q_s_r22_pyds_stream(spark, sf_dir):
    """The arrival-stream form (R22): run the offset-tracked stream to
    exhaustion; the union of micro-batch outputs must equal the batch
    relation exactly (same oracle)."""
    from odoo_batch_processing_spark.sources.sinks import scratch_dir
    from odoo_batch_processing_spark.streaming.queries import _mem_name

    register(spark)
    name = _mem_name("s_pyds")
    q = (
        spark.readStream.format("listview")
        .option("rows", "1000")
        .option("chunk", "256")
        .load()
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", scratch_dir("pyds-ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


QUERIES = {
    "r22_pyds_listview": _q_r22_pyds_listview,
    "s_r22_pyds_stream": _q_s_r22_pyds_stream,
}

ORACLES = {
    "r22_pyds_listview": _ORACLE,
    "s_r22_pyds_stream": _ORACLE,
}
