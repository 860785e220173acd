"""The bench pre-flight window gate (VERDICT r11 #2): probe
measurements vs recorded healthy-window references classify the run
BEFORE the suite spends 250 executions on a degraded host."""

from __future__ import annotations

from bench import DEGRADED_FACTOR, HEALTHY_WINDOW, preflight_window


def test_healthy_window_within_factor():
    checks = {k: v * 1.15 for k, v in HEALTHY_WINDOW.items()}
    out = preflight_window(checks)
    assert out["window"] == "healthy"
    assert out["degraded_probes"] == []
    assert out["checks"]["cpu_calibration_sec"]["ratio"] == 1.15


def test_single_probe_over_threshold_degrades():
    checks = dict(HEALTHY_WINDOW)
    checks["io_calibration_sec"] = HEALTHY_WINDOW["io_calibration_sec"] * 1.5
    out = preflight_window(checks)
    assert out["window"] == "degraded"
    assert out["degraded_probes"] == ["io_calibration_sec"]


def test_r11_driver_window_classifies_degraded():
    # the round-11 driver run (cpu 0.2301) that the verdict had to
    # adjudicate degraded BY HAND — the gate now does it mechanically
    out = preflight_window(
        {"cpu_calibration_sec": 0.2301, "io_calibration_sec": 0.1127}
    )
    assert out["window"] == "degraded"
    assert out["degraded_probes"] == ["cpu_calibration_sec"]


def test_r10_driver_window_classifies_healthy():
    out = preflight_window({"cpu_calibration_sec": 0.1889})
    assert out["window"] == "healthy"


def test_non_driver_config_is_unknown_not_judged():
    checks = {k: v * 9 for k, v in HEALTHY_WINDOW.items()}
    out = preflight_window(checks, applicable=False)
    assert out["window"] == "unknown"
    assert out["degraded_probes"] == []


def test_unknown_probe_names_record_without_gating():
    out = preflight_window({"novel_probe": 123.0})
    assert out["window"] == "healthy"
    assert out["checks"]["novel_probe"]["ref"] is None


def test_factor_is_material():
    assert DEGRADED_FACTOR == 1.2


def test_preflight_twins_drain_every_row_and_stop(spark):
    """The two floor twins the pre-flight times run the real streaming
    path to exhaustion: one batch over the events source, then both
    copies of the 2-copy staging, and neither leaves its query running."""
    from bench import drain, floor_2file_append_ckpt, floor_single_append
    from odoo_batch_processing_spark.sources.loader import load_table
    from tests.conftest import SF_SMOKE

    n = load_table(spark, SF_SMOKE, "events").count()
    assert drain(floor_single_append(spark, SF_SMOKE)) == n
    assert drain(floor_2file_append_ckpt(spark, SF_SMOKE)) == 2 * n
    assert spark.streams.active == []
