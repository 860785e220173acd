"""Change-data source (R22 in SURVEY.md §2).

Reference analog: a MutationObserver on document.body reacts to new
`.o_list_view` nodes appearing (Odoo-Batch-Processing.user.js:145-163)
— an unbounded source of "a new table arrived" events whose handler is
a stub (user.js:191-193). The Spark-native equivalent is the file
streaming source: a directory is the observed DOM, a new parquet file
is a new list view, and each micro-batch processes the newly arrived
rows.

Scale notes: the file source tracks seen-files in the checkpoint; for
100 TB ingest the options that matter are `maxFilesPerTrigger` (batch
size control — the streaming form of rate limiting) and
`latestFirst`. The directory listing itself is driver-side and
O(total files) per full listing — MEASURED at 14.9–54.7 µs/file
(warm–cold fs cache) on this box, 7.6–27.4 s at 512k files,
recurring on the ~10k-file unread-cache drain cadence
(SCALE_BATCHES.json listing ladder + relist_probe,
tools/scale_batches.py), so beyond ~10⁵ files production fronts this
with a notification queue. That swap is the spool in
sources/manifest.py: an append-only manifest tail-read in O(new)
bytes hard-links each new file into a directory that this same
source watches with ``cleanSource=delete``, so rows stay on the JVM
scan and the listing stays O(unprocessed). It is plan- and
value-preserving by test (tests/test_manifest_source.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from odoo_batch_processing_spark.schemas import events_schema
from odoo_batch_processing_spark.session import configure
from odoo_batch_processing_spark.sources.loader import events_ts_unit


def change_source(
    spark: SparkSession,
    directory: str,
    schema: T.StructType | None = None,
    max_files_per_trigger: int | None = None,
    clean_source: str | None = None,
) -> DataFrame:
    """readStream over a directory of parquet files (events-shaped by
    default). New file ≈ new list view (R22).

    ``clean_source`` ("delete" / "archive") removes processed files so
    a spool-style landing directory's listing stays O(unprocessed) —
    used by :func:`sources.manifest.manifest_file_stream`."""
    configure(spark)
    unit = events_ts_unit(directory) if schema is None else None
    reader = spark.readStream.schema(schema or events_schema(unit))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if clean_source is not None:
        reader = reader.option("cleanSource", clean_source)
    df = reader.parquet(directory)
    if schema is None and unit == "ns":
        # same ns→µs floor conversion as the batch loader
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df
