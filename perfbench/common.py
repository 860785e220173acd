"""Session lifecycle, the forcing drain, and the run context shared by
the workloads."""

from __future__ import annotations

import os
import shutil
import subprocess
import time
from dataclasses import dataclass, field

import host
from tracer import Tracer


@dataclass
class Context:
    root: str
    work: str
    seed: int
    seconds: float
    trace: bool
    tracer: Tracer = field(default_factory=Tracer)
    nproc: int = field(default_factory=host.nproc)
    heap_gb: int = field(default_factory=lambda: host.driver_heap_gb(host.ram_bytes()))
    spark: object = None
    session_starts: list = field(default_factory=list)
    notes: dict = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_session(self):
        """Stop any running session and start a fresh one sized to the
        host: ``local[nproc]``, nproc shuffle partitions, heap about half
        of RAM. Returns the seconds it took."""
        from odoo_batch_processing_spark.session import get_spark

        self.stop_session()
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{self.heap_gb}g"
        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            cpus=self.nproc,
            shuffle_partitions=self.nproc,
            extra_confs={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": self.path("spark-local"),
                # no hsperfdata under /tmp: the run writes only inside its checkout
                # compiler threads that never exit, so their CPU can be
                # told apart from the program's (host.jit_cpu_s)
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData"
                " -XX:-UseDynamicNumberOfCompilerThreads",
                "spark.sql.warehouse.dir": self.path("warehouse"),
            },
        )
        took = time.perf_counter() - t0
        self.session_starts.append(took)
        return took

    def release(self) -> int:
        """Release pins and cached relations between operations; returns
        how many pins were outstanding."""
        from odoo_batch_processing_spark import session as S

        with self.tracer.span("session.release"):
            pins = len(S._MATERIALIZED)
            S.release_materialized()
            self.spark.catalog.clearCache()
        return pins

    def stop_session(self) -> None:
        if self.spark is None:
            return
        for q in self.spark.streams.active:
            q.stop()
        self.release()
        self.spark.stop()
        self.spark = None

    def shutdown_jvm(self, timeout: float = 60.0) -> None:
        """End the driver JVM this process launched and wait for it (its
        Python workers exit with it)."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())


def _unhashable(dt) -> bool:
    from pyspark.sql import types as T

    if isinstance(dt, T.MapType) or type(dt).__name__ == "VariantType":
        return True
    if isinstance(dt, T.StructType):
        return any(_unhashable(f.dataType) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return _unhashable(dt.elementType)
    return False


def drain(df):
    """Force every output column with ``count + bit_xor(xxhash64(cols))``
    (map and variant columns through their JSON text). Returns
    ``((rows, hash), aggregate_df)``; the aggregate carries the planning
    tracker."""
    from pyspark.sql import functions as F

    df = df.toDF(*[f"_c{i}" for i in range(len(df.columns))])
    cols = [
        F.to_json(F.col(f.name)) if _unhashable(f.dataType) else F.col(f.name)
        for f in df.schema.fields
    ]
    agg = df.select(F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*cols)).alias("h"))
    row = agg.collect()[0]
    return (int(row["n"]), int(row["h"]) if row["h"] is not None else 0), agg


def scratch_snapshot(root: str) -> set:
    path = os.path.join(root, ".scratch")
    return set(os.listdir(path)) if os.path.isdir(path) else set()


def clean_scratch(root: str, before: set) -> dict:
    """Remove the package scratch entries this run created, except the
    content-keyed indexes (``keyed-*``), and report what is left over."""
    path = os.path.join(root, ".scratch")
    kept_dirs = kept_bytes = 0
    for name in sorted(scratch_snapshot(root) - before):
        full = os.path.join(path, name)
        if name.startswith("keyed-"):
            kept_dirs += 1
            kept_bytes += host.dir_bytes(full)
        elif os.path.isdir(full):
            shutil.rmtree(full, ignore_errors=True)
        else:
            os.remove(full)
    leftover = [n for n in scratch_snapshot(root) - before if not n.startswith("keyed-")]
    return {
        "kept_index_dirs": kept_dirs,
        "kept_index_bytes": kept_bytes,
        "leftover_dirs": len(leftover),
        "leftover_bytes": sum(host.dir_bytes(os.path.join(path, n)) for n in leftover),
    }
