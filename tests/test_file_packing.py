"""Pin Spark's small-file bin-packing model — the mechanism the
file-count ladder (SCALE.md round 11) certified in the large.

At 100 TB a table is ~10⁵ files and scan-task count is governed by
FilePartition's packing, not by file count: files are split into
chunks of at most

    maxSplitBytes = min(maxPartitionBytes,
                        max(openCostInBytes, totalBytes / minPartitionNum))

(totalBytes billed as size + openCost per file), sorted descending,
and greedily packed into partitions of at most maxSplitBytes with each
file billed size + openCostInBytes. SCALE.md's small-file guidance
(and the compaction planner's cost model) leans on exactly this
formula, so the test recomputes it from the session's actual confs and
the staged files' actual sizes and asserts the scan's partition count
matches — if a Spark upgrade changes the packing, this fails loudly
instead of silently invalidating the ladder's interpretation.

Two regimes:

* fixture regime (default confs, tiny total volume): bytesPerCore is
  far below openCost, so maxSplitBytes == openCostInBytes and packing
  degenerates to ~one file per partition — cores stay busy on small
  inputs by design;
* scale regime (openCost lowered so volume dominates, the shape a
  real multi-TB table has): many files pack into each partition and
  task count stays far below file count.
"""

from __future__ import annotations

import os

import pytest


def _part_files(path: str) -> list[int]:
    return sorted(
        (
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)
            if f.endswith(".parquet")
        ),
        reverse=True,
    )


def _predict_partitions(sizes, max_partition_bytes, open_cost, min_partition_num):
    """FilePartition.getFilePartitions + FilePartition.maxSplitBytes,
    restated (parquet is splittable, so oversized files chunk first)."""
    total = sum(s + open_cost for s in sizes)
    bytes_per_core = total // max(min_partition_num, 1)
    max_split = min(max_partition_bytes, max(open_cost, bytes_per_core))
    chunks = []
    for s in sizes:
        off = 0
        while off < s:
            chunks.append(min(max_split, s - off))
            off += max_split
    chunks.sort(reverse=True)
    parts, cur, cur_n = 0, 0, 0
    for c in chunks:
        if cur_n > 0 and cur + c > max_split:
            parts += 1
            cur, cur_n = 0, 0
        cur += c + open_cost
        cur_n += 1
    return parts + (1 if cur_n else 0)


def _bytes_conf(spark, key: str) -> int:
    # byte confs read back with a 'b' suffix (e.g. '134217728b')
    return int(spark.conf.get(key).rstrip("b"))


def _confs(spark):
    max_pb = _bytes_conf(spark, "spark.sql.files.maxPartitionBytes")
    open_cost = _bytes_conf(spark, "spark.sql.files.openCostInBytes")
    try:
        min_pn = int(spark.conf.get("spark.sql.files.minPartitionNum"))
    except Exception:
        min_pn = spark.sparkContext.defaultParallelism
    return max_pb, open_cost, min_pn


@pytest.fixture(scope="module")
def small_files_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("packing") / "t.parquet")
    spark.range(40_000).selectExpr(
        "id", "repeat('x', 40) AS pad"
    ).repartition(40).write.parquet(d)
    return d


def test_packing_model_matches_fixture_regime(spark, small_files_dir):
    sizes = _part_files(small_files_dir)
    assert len(sizes) == 40
    got = spark.read.parquet(small_files_dir).rdd.getNumPartitions()
    assert got == _predict_partitions(sizes, *_confs(spark))


def test_packing_bounds_tasks_in_scale_regime(spark, small_files_dir):
    """Lower openCost so data volume dominates the split size — the
    shape a real multi-TB table has — and packing must merge many
    small files per task (the property the 100 TB guidance relies on),
    still matching the model exactly."""
    key = "spark.sql.files.openCostInBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1024")
    try:
        sizes = _part_files(small_files_dir)
        got = spark.read.parquet(small_files_dir).rdd.getNumPartitions()
        max_pb, _, min_pn = _confs(spark)
        want = _predict_partitions(sizes, max_pb, 1024, min_pn)
        assert got == want
        assert got < len(sizes) / 2  # genuinely packed, not 1 file/task
    finally:
        spark.conf.set(key, old)
