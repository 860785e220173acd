from __future__ import annotations

import gc
import os
import sys
import time

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


def session():
    """The test session. Fixed cores and shuffle partitions, so plans
    print the same partition counts on any host."""
    from odoo_batch_processing_spark.session import get_spark

    return get_spark("tests", cpus=4, shuffle_partitions=4)


@pytest.fixture(scope="session")
def spark():
    yield session()


def settle(spark) -> None:
    """Finish what earlier tests left in flight before a test snapshots
    the session's persistent RDDs, so none of them vanishes during the
    test. Release the registry's pins, blocking. Earlier tests also
    leave dropped localCheckpoint RDDs that the context cleaner
    unpersists after a JVM GC, at any moment: collect garbage on both
    sides of py4j until the persistent set holds still. Then drain the
    listener bus."""
    from odoo_batch_processing_spark.session import release_materialized

    release_materialized(blocking=True)
    jsc = spark.sparkContext._jsc
    seen = None
    for _ in range(50):
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.2)
        now = set(jsc.getPersistentRDDs().keys())
        if now == seen:
            break
        seen = now
    jsc.sc().listenerBus().waitUntilEmpty()


@pytest.fixture(scope="session")
def duck():
    from odoo_batch_processing_spark.oracle import duckdb_connection

    return duckdb_connection(SF_SMOKE)
