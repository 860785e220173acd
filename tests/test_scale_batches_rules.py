"""tools/scale_batches flag rules + committed-artifact consistency."""

from __future__ import annotations

from tools.scale_batches import (
    DRIFT_FACTOR,
    LISTING_GROWTH,
    LISTING_ROWS_PER_FILE,
    TAIL,
    WARM,
    judge,
    judge_listing,
)


def _rung(k, durs, rows=100000):
    return {"k": k, "wall_sec": sum(durs), "rows": rows, "batch_secs": durs}


def test_flat_history_passes():
    rungs = [
        _rung(8, [0.22] * 8),
        _rung(32, [0.19] * 32),
        _rung(128, [0.17] * 99),
    ]
    assert judge(rungs) == []


def test_late_batch_drift_flagged():
    durs = [0.2] * (WARM + TAIL) + [0.2 + 0.01 * i for i in range(80)]
    rungs = [_rung(8, [0.2] * 8), _rung(128, durs)]
    assert "late_batch_drift" in judge(rungs)


def test_per_batch_superlinear_flagged():
    # per-batch data SHRINKS 1/K, so a top-rung mean above
    # DRIFT_FACTOR x the bottom's means history-scaling overhead
    rungs = [_rung(8, [0.1] * 8), _rung(128, [0.1 * DRIFT_FACTOR + 0.05] * 99)]
    assert "per_batch_superlinear" in judge(rungs)


def test_row_mismatch_flagged():
    rungs = [_rung(8, [0.2] * 8), _rung(128, [0.2] * 99, rows=99999)]
    assert "rows_differ_across_rungs" in judge(rungs)


def _lrung(n, file_mean=0.05, man_mean=0.001, rows=LISTING_ROWS_PER_FILE):
    return {
        "n_files": n,
        "file_offset_mean_sec": file_mean,
        "manifest_offset_mean_sec": man_mean,
        "file_trigger_rows": [rows] * 8,
        "manifest_trigger_rows": [rows] * 8,
    }


def test_listing_flat_manifest_passes():
    # the FILE source's steady cost may drift — only the manifest twin
    # carries the O(new) claim
    rungs = [_lrung(1000), _lrung(64000, file_mean=0.5)]
    assert judge_listing(rungs) == []


def test_listing_manifest_growth_flagged():
    rungs = [_lrung(1000, man_mean=0.02), _lrung(64000, man_mean=0.2)]
    assert judge_listing(rungs) == ["manifest_offset_growth"]


def test_listing_zero_bottom_rung_still_fires():
    """Review r13: a bottom rung whose manifest mean rounds to 0.0 ms
    makes the growth ratio effectively infinite — it must FIRE the
    flag, not disable it via the bot > 0 guard."""
    rungs = [_lrung(1000, man_mean=0.0), _lrung(64000, man_mean=2.0)]
    assert judge_listing(rungs) == ["manifest_offset_growth"]


def test_listing_growth_under_abs_floor_is_noise():
    # 1ms -> 4ms is 4x but far below the jitter floor: not flagged
    rungs = [_lrung(1000, man_mean=0.001), _lrung(64000, man_mean=0.004)]
    assert judge_listing(rungs) == []
    assert 0.004 > LISTING_GROWTH * 0.001  # the ratio alone WOULD flag


def test_listing_receipt_mismatch_flagged():
    bad = _lrung(64000)
    bad["manifest_trigger_rows"] = [LISTING_ROWS_PER_FILE] * 7 + [128]
    assert judge_listing([_lrung(1000), bad]) == ["listing_receipt_mismatch"]


def test_relist_spike_threshold_has_floor():
    """ADVICE r13: a single 0.0-rounded cache-served trigger must not
    zero the spike threshold — sub-floor jitter is not a re-list."""
    from tools.scale_batches import relist_spikes

    # min rounds to 0.0: only genuinely large triggers count
    assert relist_spikes([0.0, 0.003, 0.004, 1.2, 0.002, 1.5]) == [1.2, 1.5]
    # all-noise trace: no spikes, not "everything nonzero"
    assert relist_spikes([0.0, 0.01, 0.02, 0.04]) == []
    # normal trace (nonzero min): relative rule still governs
    assert relist_spikes([0.06, 0.06, 1.3, 0.06]) == [1.3]
    assert relist_spikes([]) == []


def test_committed_artifact_agrees_with_judge():
    import json
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(repo, "SCALE_BATCHES.json")
    if not os.path.exists(path):
        return
    with open(path) as fh:
        d = json.load(fh)
    assert judge(d["results"]) + judge_listing(d["listing"]["results"]) == d["flagged"]
