"""Data-layout operators: Z-order (Morton) clustering for
multi-dimensional scan pruning.

The reference has no storage layer at all (its "table" is a DOM list
view, SURVEY.md §1.1); this module is engine-completeness surface for
the 100 TB posture. Parquet scan pruning works off per-row-group
min/max statistics, and statistics are only selective when the data is
CLUSTERED on the filtered column. A single-column sort gives perfect
clustering on one dimension and none on any other; interleaving the
bits of two keys (Morton / Z-order) gives every row group a tight
min/max box on BOTH dimensions, so conjunctive two-column filters
prune row groups that either single-column layout must read.
`tests/test_layout.py` measures exactly that: per-row-group stat-box
tightness on both dimensions under z-layout vs single-key layout.

The z-value is a pure unrolled bit expression (16 terms per
dimension, whole-stage codegen, no UDF), reproduced verbatim in the
DuckDB oracle (`lake_zorder_keys`), so the layout key itself sits
under the hash gate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from odoo_batch_processing_spark.sources.loader import load_table

#: bits per dimension; 16 bits × 2 dims = 32-bit z-values. Keys must
#: be pre-masked into [0, 2^16) — at real scale, map each dimension
#: through a rank/quantile bucketizer first so the bit budget covers
#: the value domain evenly.
Z_BITS = 16


def z_value(a: Column, b: Column, bits: int = Z_BITS) -> Column:
    """Morton interleave of two non-negative int keys: bit i of ``a``
    lands at position 2i, bit i of ``b`` at 2i+1. Unrolled into a flat
    sum of ANDs/shifts — one codegen'd expression, no loop at runtime."""
    expr = F.lit(0).cast("bigint")
    for i in range(bits):
        expr = (
            expr
            + F.shiftright(a, i).bitwiseAND(F.lit(1)).cast("bigint") * F.lit(1 << (2 * i))
            + F.shiftright(b, i).bitwiseAND(F.lit(1)).cast("bigint")
            * F.lit(1 << (2 * i + 1))
        )
    return expr


def z_value_sql(a: str, b: str, bits: int = Z_BITS) -> str:
    """The identical unrolled expression in ANSI SQL (DuckDB oracle)."""
    terms = []
    for i in range(bits):
        terms.append(f"(({a} >> {i}) & 1) * {1 << (2 * i)}")
        terms.append(f"(({b} >> {i}) & 1) * {1 << (2 * i + 1)}")
    return " + ".join(terms)


def zorder_write(
    df: DataFrame,
    dims: tuple[str, str],
    out_dir: str,
    n_files: int = 8,
    bits: int = Z_BITS,
) -> None:
    """Write ``df`` clustered on z(dims): normalize each dimension
    into the bit domain (min/max affine map — the same move Delta's
    OPTIMIZE ZORDER makes with range ids, so a narrow domain like a
    10-value supplier key still contributes its high bits to the
    curve), range-partition by z-value (file k holds a contiguous
    z-range — the shuffle is the single exchange any global sort
    pays), sort within partitions, write. Row-group min/max stats on
    BOTH dims come out tight, which IS the pruning win; no
    table-format support needed — plain parquet carries the stats.

    The normalization stats are one tiny 4-value aggregate (driver
    scalar, same pattern as the ANN centroid broadcast); at 100 TB
    compute them from table-level column stats instead of a scan."""
    lo_hi = df.agg(
        *[f for c in dims for f in (F.min(c).alias(f"lo_{c}"), F.max(c).alias(f"hi_{c}"))]
    ).first()
    if lo_hi[f"lo_{dims[0]}"] is None or lo_hi[f"lo_{dims[1]}"] is None:
        # zero rows (or an all-NULL dimension): nothing to cluster —
        # write the empty/degenerate relation as-is instead of
        # crashing in the normalizer
        df.write.mode("overwrite").parquet(out_dir)
        return
    top = (1 << bits) - 1

    def norm(c: str) -> Column:
        lo, hi = lo_hi[f"lo_{c}"], lo_hi[f"hi_{c}"]
        span = max(int(hi) - int(lo), 1)
        return F.floor(
            (F.col(c) - F.lit(int(lo))).cast("double") * F.lit(top) / F.lit(span)
        ).cast("bigint")

    with_z = df.withColumn("__z", z_value(norm(dims[0]), norm(dims[1]), bits))
    (
        with_z.repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(out_dir)
    )


def _q_lake_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The z-layout key for lineitem's (l_partkey, l_suppkey) — the
    two-dimensional clustering key `zorder_write` sorts by, certified
    against the bit-identical SQL form."""
    li = load_table(spark, sf_dir, "lineitem")
    mask = F.lit((1 << Z_BITS) - 1)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        z_value(
            F.col("l_partkey").bitwiseAND(mask),
            F.col("l_suppkey").bitwiseAND(mask),
        ).alias("zkey"),
    )


def compaction_plan(
    files: DataFrame,
    part_col: str,
    file_col: str,
    bytes_col: str,
    target_bytes: int,
) -> DataFrame:
    """Assign each small file to a compaction group, per table
    partition: files are taken in ``file_col`` order and binned by
    their *starting byte offset* within the partition's cumulative
    size (``group = floor((cumsum - size) / target)``).

    This is offset binning, not greedy first-fit: every group's size
    is within one file of ``target_bytes`` on either side (a file
    straddling a bin boundary lands in the bin its start falls in) —
    the same packing quality Spark's own `FilePartition` packing and
    Delta/Iceberg bin-packing OPTIMIZE give. Greedy first-fit with a running reset
    is inherently sequential per partition; offset binning is a plain
    prefix sum, so the whole plan is one window over (partition →
    file) — shuffles once on the partition column, scales to
    millions of files, and (unlike greedy) is expressible in ANSI SQL,
    which keeps the planner itself under the DuckDB hash gate.

    Compacting 800k 128 MB files (a 100 TB table) is a metadata-scale
    job: the listing is ~tens of MB, the plan one shuffle, and the
    rewrite itself is embarrassingly parallel per group.
    """
    w = (
        Window.partitionBy(part_col)
        .orderBy(file_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    start_offset = F.sum(bytes_col).over(w) - F.col(bytes_col)
    return files.withColumn(
        "group_id", F.floor(start_offset / F.lit(target_bytes)).cast("int")
    )


#: simulated-listing parameters for the certified query: 8 files per
#: source (doc_id mod), 2 KB target → a handful of multi-file groups
#: per source at sf0.01.
_COMPACT_FILES_PER_PART = 8
_COMPACT_TARGET_BYTES = 2000


def _q_lake_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction groups over a simulated small-file listing of the
    documents table (file = doc_id mod 8 within each source, size =
    the files' text bytes), summarized per group. The planner logic —
    ordered prefix-sum offset binning — is exactly what would run on a
    real `_metadata.file_size` listing (tests/test_layout.py applies
    it to one); the simulation only exists so the DuckDB oracle can
    see the same input."""
    docs = load_table(spark, sf_dir, "documents")
    listing = docs.groupBy(
        "source", (F.col("doc_id") % _COMPACT_FILES_PER_PART).alias("file_id")
    ).agg(F.sum(F.octet_length("text")).alias("bytes"))
    plan = compaction_plan(
        listing, "source", "file_id", "bytes", _COMPACT_TARGET_BYTES
    )
    return plan.groupBy("source", "group_id").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("bytes").alias("group_bytes"),
        F.min("file_id").alias("first_file"),
        F.max("file_id").alias("last_file"),
    )


def compact_rewrite(
    small_dir: str,
    spark: SparkSession,
    part_col: str,
    target_bytes: int,
    out_dir: str,
    schema=None,
) -> DataFrame:
    """EXECUTE a compaction plan over a real small-file parquet layout
    and return the read-back relation — the OPTIMIZE/rewrite half that
    :func:`compaction_plan` only plans.

    The listing comes from the scan's own ``_metadata`` columns
    (file_path/file_size — no filesystem walk), the plan is the same
    offset-binning prefix sum, and the apply is one broadcast join of
    the metadata-scale plan onto the data followed by a shuffle on
    (partition, group): each compaction group lands wholly in one
    task, so the partitioned write emits exactly one data file per
    group directory. Production would commit those files into the
    table's metadata (Delta OPTIMIZE / Iceberg rewrite_data_files);
    here the group directory level IS the rewrite manifest, and the
    read-back drops it.

    100 TB shape: the listing and plan are O(files) metadata rows, the
    plan broadcast is tiny, and the rewrite shuffles each row once on
    its (partition, group) key — embarrassingly parallel per group,
    no driver-side iteration at any step.

    ``schema`` (optional): declared read schema for both the small-file
    dir and the compacted read-back — REQUIRED when the layout may
    hold zero data files (a partitioned dir of an empty relation has
    nothing to infer from; same contract as the standing-index
    explicit-schema reads)."""
    import pyspark.sql.types as T

    reader = spark.read.schema(schema) if schema is not None else spark.read
    data = reader.parquet(small_dir).select(
        "*",
        F.col("_metadata.file_path").alias("__file"),
        F.col("_metadata.file_size").alias("__bytes"),
    )
    listing = data.groupBy(part_col, "__file").agg(
        F.first("__bytes").alias("__fbytes")
    )
    plan = compaction_plan(listing, part_col, "__file", "__fbytes", target_bytes)
    grouped = data.drop("__bytes").join(
        F.broadcast(plan.select("__file", "group_id")), "__file"
    )
    (
        grouped.drop("__file")
        .repartition(F.col(part_col), F.col("group_id"))
        .write.mode("overwrite")
        .partitionBy(part_col, "group_id")
        .parquet(out_dir)
    )
    if schema is not None:
        back_schema = T.StructType(
            list(schema.fields) + [T.StructField("group_id", T.IntegerType())]
        )
        return spark.read.schema(back_schema).parquet(out_dir).drop("group_id")
    return spark.read.parquet(out_dir).drop("group_id")


#: the roundtrip's staged small-file layout: enough files per
#: partition that the 64 KB target folds several into each group at
#: the test SFs
_COMPACT_RT_FILES = 24
_COMPACT_RT_TARGET = 64 * 1024


def _q_lake_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end compaction: stage events as a many-small-files
    layout partitioned by event_type (built once per corpus), rewrite
    it with :func:`compact_rewrite`, and aggregate the READ-BACK — the
    oracle aggregates the original table, so any row lost, duplicated,
    or altered by the listing → plan → join → rewrite chain breaks the
    hash. All aggregates are integer-exact (counts, bigint sums,
    floor-quantized value) so the comparison is order-independent.
    tests/test_layout.py separately certifies the layout effect: one
    data file per planned group, every group within a file of target."""
    import os

    from odoo_batch_processing_spark.sources.sinks import scratch_dir, staged_once

    def _build(d):
        (
            load_table(spark, sf_dir, "events")
            .repartition(_COMPACT_RT_FILES)
            .write.partitionBy("event_type")
            .mode("overwrite")
            .parquet(d)
        )

    ev = load_table(spark, sf_dir, "events")
    small = staged_once(
        "events-smallfiles", os.path.join(sf_dir, "events.parquet"), _build
    )
    back = compact_rewrite(
        small,
        spark,
        "event_type",
        _COMPACT_RT_TARGET,
        scratch_dir("lake-compacted"),
        schema=ev.schema,
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("event_id").cast("bigint").alias("sum_id"),
        F.min("event_id").cast("bigint").alias("min_id"),
        F.max("event_id").cast("bigint").alias("max_id"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.sum(F.floor(F.col("value") * 1000).cast("bigint"))
        .cast("bigint")
        .alias("sum_mvalue"),
        F.sum(F.length("props")).cast("bigint").alias("sum_props_len"),
    )


QUERIES = {
    "lake_zorder_keys": _q_lake_zorder_keys,
    "lake_compaction_plan": _q_lake_compaction_plan,
    "lake_compact_roundtrip": _q_lake_compact_roundtrip,
}

_MASK = (1 << Z_BITS) - 1
ORACLES = {
    "lake_zorder_keys": f"""
        SELECT l_orderkey, l_linenumber,
               {z_value_sql(f"(l_partkey & {_MASK})", f"(l_suppkey & {_MASK})")} AS zkey
        FROM lineitem
    """,
    # strlen() in DuckDB counts BYTES (Spark's octet_length twin)
    "lake_compaction_plan": f"""
        WITH listing AS (
            SELECT source, doc_id % {_COMPACT_FILES_PER_PART} AS file_id,
                   CAST(SUM(strlen(text)) AS BIGINT) AS bytes
            FROM documents GROUP BY source, doc_id % {_COMPACT_FILES_PER_PART}
        ), plan AS (
            SELECT source, file_id, bytes,
                   CAST(FLOOR((SUM(bytes) OVER (PARTITION BY source ORDER BY file_id
                                ROWS UNBOUNDED PRECEDING) - bytes)
                              / {_COMPACT_TARGET_BYTES}.0) AS INTEGER) AS group_id
            FROM listing
        )
        SELECT source, group_id, COUNT(1) AS n_files,
               CAST(SUM(bytes) AS BIGINT) AS group_bytes,
               MIN(file_id) AS first_file, MAX(file_id) AS last_file
        FROM plan GROUP BY source, group_id
    """,
    # the roundtrip is lossless — the oracle aggregates the ORIGINAL
    # events relation; floor(value*1000) is IEEE-identical in both
    # engines on the same stored doubles, so every column is an exact
    # integer and the hash is order-independent
    "lake_compact_roundtrip": """
        SELECT event_type,
               CAST(COUNT(1) AS BIGINT) AS n_events,
               CAST(SUM(event_id) AS BIGINT) AS sum_id,
               CAST(MIN(event_id) AS BIGINT) AS min_id,
               CAST(MAX(event_id) AS BIGINT) AS max_id,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) AS BIGINT) AS sum_mvalue,
               CAST(SUM(length(props)) AS BIGINT) AS sum_props_len
        FROM events GROUP BY event_type
    """,
}
