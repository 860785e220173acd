"""Batch sinks (R21 — the write/commit protocol).

Reference analog: `updateCell` commits each cell by simulating the
host's event protocol (dblclick → set value → input/change → blur →
Enter; Odoo-Batch-Processing.user.js:554-621) and persistence is
delegated to the host ORM. The engine's equivalent contract is the
columnar write: `df.write.mode(...).parquet(out)` — atomic per job,
schema carried with the data, and the read-back is the verification
that the host "accepted" the write (user.js:612's success-on-dispatch
becomes success-on-commit).

Formats: parquet is the default (columnar, statistics, pushdown on
read-back); csv/json exist for interchange. At 100 TB the knobs that
matter are `partitionBy` (layout for later partition pruning),
`maxRecordsPerFile` (bounded file sizes), and in real deployments a
table format (Delta/Iceberg) for MERGE/ACID. This build ships no table
format, so MERGE is emulated over partitioned parquet
(:func:`merge_into_partitioned`).
"""

from __future__ import annotations

import logging
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from odoo_batch_processing_spark.session import materialized_scope, truncate_lineage

_SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), ".scratch")


_SCRATCH_TTL_SECONDS = 24 * 3600

#: dirs under .scratch that keyed_scratch_dir manages: content-keyed
#: standing indexes whose lifecycle is "stale when the KEY changes",
#: never mtime — the TTL sweep must not delete a still-valid index a
#: long-lived session may re-read lazily at any point
_KEYED_PREFIX = "keyed-"

#: rescue dirs (staged_once's wedged-restore escape hatch) get a
#: DEDICATED long TTL instead of the blanket keyed- exemption
#: (ADVICE r10): each rescue is a full artifact copy that the keyed
#: path never re-discovers (the keyed name is fingerprint-derived),
#: so exempting it forever leaks one copy per wedged-restore race.
#: Re-adopting it onto the keyed path was considered and rejected: the
#: rescue PATH was returned to the racing caller, and a later rename
#: would yank the directory out from under that session's lazy
#: readers — the exact hazard class the aside-flow exists to avoid.
#: A week bounds the leak while comfortably outliving any session
#: that could still hold the path.
_RESCUE_PREFIX = _KEYED_PREFIX + "rescue-"
_RESCUE_TTL_SECONDS = 7 * 24 * 3600

#: RETIRED keyed layouts (review r15): when a standing index bumps its
#: layout/commit version (minhash-index-v2 → v3), dirs of the OLD
#: version are never opened again by any code at this version — the
#: content-key exemption's premise ("a lazy reader may still hold the
#: path") decays with the sessions that created them, so they get the
#: bounded rescue TTL instead of living forever. Append, never reuse,
#: version names here on every future bump.
_RETIRED_KEYED_PREFIXES = (_KEYED_PREFIX + "minhash-index-v2-",)


def _sweep_stale(root: str) -> None:
    """Best-effort removal of scratch dirs older than the TTL so
    repeated rounds don't accumulate sink/checkpoint debris.
    Content-keyed index dirs (``keyed-*``) are exempt: their
    staleness is governed by the content key, and sweeping one could
    yank files out from under a lazy DataFrame created earlier in the
    session (orphaned keys ARE eventually collected — a key dir whose
    SOURCE fingerprint can no longer recur just stops being opened,
    and a stricter janitor can match keys against live fixtures)."""
    import shutil
    import time

    try:
        now = time.time()
        for entry in os.scandir(root):
            if not entry.is_dir():
                continue
            if entry.name.startswith(_RESCUE_PREFIX):
                ttl = _RESCUE_TTL_SECONDS  # bounded, not exempt (ADVICE r10)
            elif entry.name.startswith(_RETIRED_KEYED_PREFIXES):
                ttl = _RESCUE_TTL_SECONDS  # retired layout: bounded leak
            elif entry.name.startswith(_KEYED_PREFIX):
                continue  # content-keyed standing index: key governs staleness
            else:
                ttl = _SCRATCH_TTL_SECONDS
            if now - entry.stat().st_mtime > ttl:
                shutil.rmtree(entry.path, ignore_errors=True)
    except OSError:
        pass


def scratch_dir(prefix: str) -> str:
    os.makedirs(_SCRATCH, exist_ok=True)
    _sweep_stale(_SCRATCH)
    return tempfile.mkdtemp(prefix=f"{prefix}-", dir=_SCRATCH)


def keyed_scratch_dir(name: str, key: str) -> str:
    """STABLE scratch path for a write-time index: same (name, key) →
    same directory across calls, so an index built once per corpus
    content is found again by every later query in the session (and
    by later processes). ``key`` must fingerprint the source data
    (see dedup.corpus_fingerprint) — staleness is handled by the key
    changing, not by mtime sweeps, and the TTL janitor skips these
    dirs (``keyed-`` prefix) so a standing index can never be swept
    out from under a lazy reader. Unlike :func:`scratch_dir` this
    does NOT mkdtemp: the caller checks for Spark's ``_SUCCESS``
    marker to decide build-vs-reuse (a torn write never leaves one)."""
    os.makedirs(_SCRATCH, exist_ok=True)
    _sweep_stale(_SCRATCH)
    return os.path.join(_SCRATCH, f"{_KEYED_PREFIX}{name}-{key}")


def _marker_present(path: str) -> bool:
    """Is ``path`` a COMMITTED staged artifact (``_STAGED`` marker
    inside)? A named seam so the race tests can deterministically
    replay the TOCTOU interleavings (a commit landing between a check
    and the replace) that wall-clock scheduling can't reproduce."""
    return os.path.exists(os.path.join(path, "_STAGED"))


def staged_once(name: str, src_path: str, build) -> str:
    """Build-or-reuse a derived artifact keyed on SOURCE CONTENT — the
    one implementation of the pattern behind every staged streaming
    source and write-time index (round 6): resolve a
    :func:`keyed_scratch_dir` from ``corpus_fingerprint(src_path)``,
    and if the ``_STAGED`` marker is absent, run ``build`` into a
    PRIVATE sibling temp dir and atomically ``os.rename`` it onto the
    keyed path (round 7, ADVICE r6 #1). The keyed path therefore only
    ever appears fully built with its marker inside: a torn build
    (crash mid-write) strands a ``stagetmp-*`` dir the TTL janitor
    collects and never pollutes the keyed path, a rebuild can never
    append into leftover committed part files, and two racing builders
    each write a disjoint temp dir — the first rename wins wholesale,
    the loser sees the winner's marker and discards its own copy. This
    upgrades the round-6 contract: builders no longer need to be
    idempotent-on-rebuild or overwrite-only, only deterministic enough
    that either racer's output is acceptable. The underscore-prefixed
    marker is invisible to Spark's file listing, so it can live inside
    a directory that is itself read as a (partitioned) parquet
    source.

    A COMMITTED artifact is never deleted (ADVICE r7 #2): a marker-less
    leftover at the keyed path is moved ASIDE by an atomic rename (to a
    TTL-swept ``stagetmp-aside-*`` sibling), never ``rmtree``'d — so a
    racer's commit that lands between our marker check and the replace
    is preserved, detected by re-checking the marker on the aside dir,
    and restored by renaming it straight back."""
    import shutil
    import time

    from odoo_batch_processing_spark.operators.dedup import corpus_fingerprint

    path = keyed_scratch_dir(name, corpus_fingerprint(src_path))
    marker = os.path.join(path, "_STAGED")
    if _marker_present(path):
        return path
    # stagetmp- (not keyed-) prefix: same parent dir as `path` so the
    # rename is same-filesystem atomic, while crashed leftovers are
    # still eligible for the TTL sweep.
    tmp = tempfile.mkdtemp(prefix=f"stagetmp-{name}-", dir=_SCRATCH)
    try:
        # the build's pins are its own: released once it is written, so
        # a session that built the artifact plans later queries exactly
        # as one that found it already staged
        with materialized_scope():
            build(tmp)
        with open(os.path.join(tmp, "_STAGED"), "w"):
            pass
        if os.path.isdir(path):
            if _marker_present(path):
                return path  # racer committed while we built; keep theirs
            # Marker-less leftover (legacy torn build): move it ASIDE with
            # an atomic rename — never rmtree. Deleting here is a TOCTOU:
            # a racer's commit landing after the marker check above would
            # be destroyed, and a reader holding its listing would hit
            # FileNotFound. mkdtemp reserves a unique aside name; rename
            # onto an EMPTY directory is atomic on the same filesystem.
            aside = tempfile.mkdtemp(prefix=f"stagetmp-aside-{name}-", dir=_SCRATCH)
            try:
                os.rename(path, aside)
            except FileNotFoundError:
                pass  # another builder already moved the leftover aside
            if _marker_present(aside):
                # the "leftover" was really a racer's commit that landed
                # between the check and the rename — put it straight back
                # and discard our copy. The restore can fail if a THIRD
                # racer occupied path meanwhile; retry briefly (its own
                # aside-flow clears marker-less occupants), and if path
                # stays wedged, move the committed artifact to a
                # keyed-rescue name instead of leaving it stranded
                # under the 24h-TTL stagetmp-aside-* prefix. Rescue
                # dirs are NOT sweep-exempt forever: they get the
                # dedicated 7-day _RESCUE_TTL_SECONDS (ADVICE r10 —
                # bounded leak), which still outlives any session that
                # could hold the returned path.
                restored = False
                for _ in range(20):
                    try:
                        os.rename(aside, path)
                        restored = True
                        break
                    except OSError:
                        if _marker_present(path):
                            break  # a commit landed at path; aside is a dup
                        time.sleep(0.05)
                if not restored and not _marker_present(path):
                    rescue = os.path.join(
                        _SCRATCH,
                        _RESCUE_PREFIX + os.path.basename(aside),
                    )
                    try:
                        os.rename(aside, rescue)
                    except OSError:
                        rescue = None  # aside itself moved/committed away
                    if rescue is not None:
                        # rename preserves the artifact's WRITE-time
                        # mtime; restart the TTL clock at RESCUE time
                        # or an old artifact starts its 7 days in the
                        # past and can be swept while a session still
                        # holds the path (ADVICE r10). Best-effort:
                        # a failed touch must not discard the rescue.
                        try:
                            os.utime(rescue, None)
                        except OSError:
                            pass
                    if rescue is not None and _marker_present(rescue):
                        # loud, attributable event (ADVICE r10): each
                        # rescue is a full artifact copy living outside
                        # the keyed path, reclaimed only by its
                        # dedicated 7-day TTL
                        logging.getLogger(__name__).warning(
                            "staged_once: keyed path %s wedged; serving "
                            "committed artifact from rescue dir %s "
                            "(reclaimed by the %d-day rescue TTL)",
                            path,
                            rescue,
                            _RESCUE_TTL_SECONDS // 86400,
                        )
                        return rescue  # readable committed artifact
                if _marker_present(path):
                    return path
        try:
            os.rename(tmp, path)
            tmp = None
        except OSError:
            if not os.path.exists(marker):
                raise  # not a lost commit race — surface it
    finally:
        if tmp is not None:
            shutil.rmtree(tmp, ignore_errors=True)
    return path


def write_roundtrip(
    df: DataFrame,
    fmt: str = "parquet",
    partition_by: list[str] | None = None,
    out_dir: str | None = None,
) -> DataFrame:
    """Write ``df`` to a fresh sink directory and return the read-back
    relation — the commit-then-verify shape of R21."""
    spark = df.sparkSession
    out = out_dir or scratch_dir(f"sink-{fmt}")
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if fmt == "parquet":
        writer.parquet(out)
        return spark.read.schema(df.schema).parquet(out)
    if fmt == "csv":
        writer.option("header", True).csv(out)
        return spark.read.schema(df.schema).option("header", True).csv(out)
    if fmt == "json":
        writer.json(out)
        return spark.read.schema(df.schema).json(out)
    if fmt == "orc":
        writer.orc(out)
        return spark.read.schema(df.schema).orc(out)
    raise ValueError(f"unsupported sink format {fmt!r}")


def merge_into_partitioned(
    spark: SparkSession,
    target_dir: str,
    updates: DataFrame,
    key: str,
    partition_by: str,
) -> DataFrame:
    """MERGE-emulation over a partitioned parquet target: upsert
    ``updates`` by ``key`` rewriting ONLY the partitions the updates
    touch (dynamic partition overwrite), and return the read-back.

    The reference's whole purpose is in-place update semantics
    (user.js:554-621 commits cell-by-cell into the live table); parquet
    is immutable, so the Spark-native restatement is:

    1. restrict the target to partitions present in ``updates``
       (left-semi on the partition column — partition pruning makes
       this a touched-partitions-only scan at 100 TB);
    2. drop the keys being upserted (left-anti on ``key``);
    3. union the updates and overwrite in ``partitionOverwriteMode=
       dynamic`` — untouched partitions are never read or written.

    Cost is O(touched partitions), not O(table). The lineage cut
    (``session.truncate_lineage`` — localCheckpoint, or reliable
    checkpoint under ``SPARK_GRAFT_RELIABLE_CHECKPOINT=1``)
    detaches the plan from ``target_dir`` so Spark permits writing a
    path that fed the plan (self-overwrite guard); the materialized set
    is bounded by the touched partitions. On a real deployment the same
    call maps 1:1 onto Delta/Iceberg ``MERGE INTO`` (ACID, no
    checkpoint materialization).
    """
    target = spark.read.parquet(target_dir)
    touched = target.join(
        updates.select(partition_by).distinct(), on=partition_by, how="left_semi"
    )
    remain = touched.join(updates.select(key), on=key, how="left_anti")
    merged = remain.unionByName(updates.select(*remain.columns)).transform(truncate_lineage)
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_by)
        .parquet(target_dir)
    )
    return spark.read.parquet(target_dir)


def _q_r21_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R21 as a true upsert: stage orders partitioned by status, then
    MERGE new priorities for every 100th 'F' order — only the F
    partition is rewritten; O and P partitions survive byte-for-byte."""
    from odoo_batch_processing_spark.sources.loader import load_table

    orders = load_table(spark, sf_dir, "orders")
    target_dir = scratch_dir("r21-merge-target")
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(target_dir)

    updates = (
        spark.read.parquet(target_dir)
        .filter((F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 100 == 0))
        .withColumn("o_orderpriority", F.lit("9-MERGED"))
    )
    merged = merge_into_partitioned(
        spark, target_dir, updates, key="o_orderkey", partition_by="o_orderstatus"
    )
    return merged.select("o_orderkey", "o_orderpriority", "o_orderstatus")


def _q_r21_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The updated relation of r07 written to parquet and read back —
    the full EP1 pipeline INCLUDING persistence (SURVEY.md §3 step 6)."""
    from odoo_batch_processing_spark.operators.bulk_update import _q_r07_broadcast_update

    updated = _q_r07_broadcast_update(spark, sf_dir)
    return write_roundtrip(updated, "parquet")


def _q_src_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL as an interchange SOURCE: stage documents as line-JSON,
    read back with the declared schema (schema-on-read — no inference
    sweep), and aggregate. Proves the non-parquet read path preserves
    the relation, including free text. At 100 TB JSONL is the common
    raw-crawl landing format; the aggregate's input is the read-back,
    so a lossy encode/decode would break the oracle match."""
    from odoo_batch_processing_spark.sources.loader import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    back = write_roundtrip(docs, "json")
    return back.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.length("text")).cast("bigint").alias("sum_len"),
        F.min("doc_id").cast("bigint").alias("min_doc"),
        F.max("doc_id").cast("bigint").alias("max_doc"),
    )


def _q_src_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV as an interchange SOURCE: customer staged with a header,
    read back with the declared schema (decimal acctbal included), and
    aggregated per nation — exercising typed parse of the text format."""
    from odoo_batch_processing_spark.sources.loader import load_table

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    back = write_roundtrip(cust, "csv")
    return back.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cust"),
        F.sum("c_acctbal").alias("sum_bal"),
    )


def _q_src_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC as an interchange SOURCE (Spark-native columnar sibling of
    parquet — common when ingesting from Hive-era warehouses): part
    staged to ORC, read back with the declared schema, aggregated per
    brand. Same lossless-roundtrip contract as the JSONL/CSV queries:
    the oracle aggregates the ORIGINAL table, so any encode/decode
    drift (including double retailprice bits) fails the hash."""
    from odoo_batch_processing_spark.sources.loader import load_table

    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size", "p_retailprice"
    )
    back = write_roundtrip(part, "orc")
    return back.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.sum("p_size").cast("bigint").alias("sum_size"),
        F.sum("p_retailprice").alias("sum_price"),
        F.max("p_partkey").cast("bigint").alias("max_part"),
    )


# r21_sink_roundtrip is the plain write/read-back roundtrip, covered
# in spirit by r21_merge's stage-then-read.
QUERIES = {
    "r21_merge": _q_r21_merge,
    "r21_sink_roundtrip": _q_r21_sink_roundtrip,
    "src_jsonl_roundtrip": _q_src_jsonl_roundtrip,
    "src_csv_roundtrip": _q_src_csv_roundtrip,
    "src_orc_roundtrip": _q_src_orc_roundtrip,
}

ORACLES = {
    # upsert = CASE over the touched keys; untouched partitions intact
    "r21_merge": """
        SELECT o_orderkey,
               CASE WHEN o_orderstatus = 'F' AND o_orderkey % 100 = 0
                    THEN '9-MERGED' ELSE o_orderpriority END AS o_orderpriority,
               o_orderstatus
        FROM orders
    """,
    # identical to r07: the sink must not change the relation
    "r21_sink_roundtrip": """
        SELECT o_orderkey,
               CASE WHEN o_orderstatus = 'O' AND NOT (o_orderpriority = '1-URGENT')
                    THEN '9-BULK-SET' ELSE o_orderpriority END AS o_orderpriority
        FROM orders
    """,
    # the roundtrip must be lossless — the oracles aggregate the
    # ORIGINAL tables, so any encode/decode drift fails the hash
    "src_jsonl_roundtrip": """
        SELECT source,
               CAST(COUNT(1) AS BIGINT) AS n_docs,
               CAST(SUM(length(text)) AS BIGINT) AS sum_len,
               CAST(MIN(doc_id) AS BIGINT) AS min_doc,
               CAST(MAX(doc_id) AS BIGINT) AS max_doc
        FROM documents GROUP BY source
    """,
    "src_csv_roundtrip": """
        SELECT c_nationkey,
               CAST(COUNT(1) AS BIGINT) AS n_cust,
               SUM(c_acctbal) AS sum_bal
        FROM customer GROUP BY c_nationkey
    """,
    "src_orc_roundtrip": """
        SELECT p_brand,
               CAST(COUNT(1) AS BIGINT) AS n_parts,
               CAST(SUM(p_size) AS BIGINT) AS sum_size,
               SUM(p_retailprice) AS sum_price,
               CAST(MAX(p_partkey) AS BIGINT) AS max_part
        FROM part GROUP BY p_brand
    """,
}
