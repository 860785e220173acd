"""The SPARK_GRAFT_RELIABLE_CHECKPOINT switch (session.truncate_lineage):
localCheckpoint (fast, executor-local, NOT fault-tolerant) vs reliable
checkpoint (survives executor loss on a cluster). Both must cut lineage
AND produce identical results — the switch changes durability, never
semantics."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from odoo_batch_processing_spark.operators import dedup
from odoo_batch_processing_spark.session import (
    CHECKPOINT_DIR_ENV,
    RELIABLE_CHECKPOINT_ENV,
    truncate_lineage,
)
from tests.conftest import SF_SMOKE


def _neardup_rows(spark):
    return sorted(
        (r["doc_id"], r["cluster_id"])
        for r in dedup._q_x3_neardup_survivors(spark, SF_SMOKE).collect()
    )


def test_reliable_checkpoint_same_results(spark, tmp_path, monkeypatch):
    """x3_neardup_survivors (the heaviest checkpoint user: shingle index,
    band keys, CC rounds) must produce identical clusters on both paths.
    The CC edge cap is patched to 0 so large-star/small-star — the
    only lineage-cut user in this query, once per round — actually
    runs."""
    monkeypatch.setattr(dedup, "CC_LOCAL_EDGE_CAP", 0)
    local = _neardup_rows(spark)

    monkeypatch.setenv(RELIABLE_CHECKPOINT_ENV, "1")
    monkeypatch.setenv(CHECKPOINT_DIR_ENV, str(tmp_path / "ckpt"))
    reliable = _neardup_rows(spark)

    assert local == reliable
    # reliable checkpoints actually landed in the configured dir
    ckpt_root = tmp_path / "ckpt"
    assert ckpt_root.exists() and any(ckpt_root.rglob("*")), (
        "reliable path did not write to the checkpoint dir"
    )


def test_truncate_lineage_cuts_plan(spark, monkeypatch):
    monkeypatch.delenv(RELIABLE_CHECKPOINT_ENV, raising=False)
    df = spark.range(100).withColumn("x", F.col("id") * 2)
    cut = truncate_lineage(df)
    # a checkpointed plan reads from the materialized RDD, not the range
    assert "LogicalRDD" in cut._jdf.queryExecution().analyzed().toString()
    assert cut.count() == 100


def test_env_flag_values(spark, monkeypatch, tmp_path):
    """'0'/'false'/unset stay on localCheckpoint (no checkpoint-dir
    writes); truthy spellings route to reliable."""
    probe = spark.range(10)
    monkeypatch.setenv(CHECKPOINT_DIR_ENV, str(tmp_path / "flagckpt"))
    for off in ("0", "false", "no", ""):
        monkeypatch.setenv(RELIABLE_CHECKPOINT_ENV, off)
        assert truncate_lineage(probe).count() == 10
    assert not (tmp_path / "flagckpt").exists()
    monkeypatch.setenv(RELIABLE_CHECKPOINT_ENV, "true")
    assert truncate_lineage(probe).count() == 10
    ckpt = spark.sparkContext.getCheckpointDir()
    assert ckpt is not None
    assert os.path.exists(ckpt.removeprefix("file:"))
