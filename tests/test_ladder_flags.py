"""Self-check for the axis-ladder flagging rules (VERDICT r8 item 3).

The headline replay: the pre-fix int8 Θ(d²) measured ×1.0/×2.4/×8.8 at
d ×1/×16/×64 (SCALE.md round-8 dimension-ladder receipt, from a scratch
worktree before the `bind` fix landed at similarity.py:605). At the
d×16 rung the absolute 4× rule does NOT fire (2.4 < 4) — the hazard was
caught only because every other vector stage trended flat-down. These
tests pin that the family-divergence rule flags exactly that rung, and
that the round-8 HEALTHY artifacts stay unflagged (no false positives
on the worst non-hazard rows).
"""

from __future__ import annotations

import json
import os

from tools.ladder_flags import MAX_EXEMPT_ROWS_RATIO, family_divergence, flagged_stages

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: the recorded pre-fix int8 rung ratios on the d-ladder MULTS
#: (1, 4, 16, 64); the d×4 point interpolated flat — the receipt's
#: quadratic signature lives at ×16 and ×64
PREFIX_INT8 = [1.0, 1.1, 2.4, 8.8]

#: the round-8 healthy family (SCALE_DIM.json ratios at judging time)
HEALTHY_DIM = {
    "x4_cosine_topk": [1.0, 0.79, 0.85, 0.96],
    "x4_ivf_topk": [1.0, 0.94, 0.87, 0.82],
    "x4_ivf_multiprobe": [1.0, 0.83, 0.8, 0.78],
    "x4_kmeans_cells": [1.0, 0.88, 0.76, 0.8],
    "x3_embedding_neardup": [1.0, 0.69, 0.52, 0.45],
}


def test_divergence_flags_prefix_int8_at_d16():
    """The d×16 rung (index 2) is under the absolute line but must be
    family-divergent; the d×64 rung (index 3) flags under both rules."""
    stage_secs = dict(HEALTHY_DIM, x4_int8_topk=PREFIX_INT8)
    div = family_divergence(stage_secs)
    assert 2 in div["x4_int8_topk"]["divergent_rungs"]  # the missed rung
    assert 3 in div["x4_int8_topk"]["divergent_rungs"]
    # absolute rule alone misses d×16: 2.4 < 4.0
    assert PREFIX_INT8[2] < 4.0
    flagged, _ = flagged_stages(stage_secs, flag_ratio=4.0)
    assert flagged == ["x4_int8_topk"]
    # no healthy stage picks up a divergence flag from the hazard's
    # presence (the median is robust to one outlier)
    for name in HEALTHY_DIM:
        assert div[name]["divergent_rungs"] == []


def test_healthy_families_stay_unflagged():
    """No false positives on the worst recorded non-hazard rows: the
    committed artifacts (incl. mm_neardup's output-bound growth and
    the falling x6 family where a flat stage must not flag) pass both
    rules clean — with the output-rows exemption that
    tools/axis_ladder.py applies to every axis (r18: the round's
    optimizations lowered every OTHER doclen stage's top-rung
    ratio, so the unchanged, pair-emitting mm_neardup crossed the
    leave-one-out median with no code change; its rows grow ×29 for
    ×1.6 sec, exactly the output-bound case)."""
    for fname in ("SCALE_DIM.json", "SCALE_DOCLEN.json", "SCALE_JSONSIZE.json"):
        with open(os.path.join(REPO, fname)) as fh:
            art = json.load(fh)
        stage_secs = {
            name: [r["stages"][name]["sec"] for r in art["results"]]
            for name in art["results"][0]["stages"]
        }
        stage_rows = {
            name: [r["stages"][name].get("rows", 0) for r in art["results"]]
            for name in art["results"][0]["stages"]
        }
        flagged, div = flagged_stages(
            stage_secs, art["flag_ratio"], stage_rows=stage_rows
        )
        assert flagged == [], (fname, flagged, div)


def test_output_bound_exemption_requires_rows_to_outgrow_time():
    """The exemption waives a divergent rung ONLY when output rows grow
    at least as fast as seconds; a stage whose time outgrows its output
    still flags (that is the real superlinearity the rule hunts)."""
    fam = {
        "a": [1.0, 0.9, 0.8],
        "b": [1.0, 0.95, 0.75],
        "c": [1.0, 0.85, 0.7],
        "pairs": [1.0, 1.2, 1.6],
    }
    rows = {"a": [10, 10, 10], "b": [10, 10, 10], "c": [10, 10, 10],
            "pairs": [100, 640, 2800]}
    flagged, div = flagged_stages(fam, flag_ratio=4.0, stage_rows=rows)
    assert flagged == []
    assert div["pairs"]["output_bound_exempt_rungs"] == [2]
    # same timings, but the output does NOT grow → still flagged
    rows["pairs"] = [100, 100, 100]
    flagged, div = flagged_stages(fam, flag_ratio=4.0, stage_rows=rows)
    assert flagged == ["pairs"]
    # and with no rows data at all the exemption never applies
    flagged, _ = flagged_stages(fam, flag_ratio=4.0)
    assert flagged == ["pairs"]


def test_output_bound_exemption_is_capped():
    """A pair-count explosion grows rows and seconds together. Its rows
    outgrow its seconds, so the uncapped exemption waived it; rows far
    past MAX_EXEMPT_ROWS_RATIO keep the divergent rungs flagged, with
    the top rung still under the absolute line."""
    fam = {
        "a": [1.0, 0.9, 0.8],
        "b": [1.0, 0.95, 0.75],
        "c": [1.0, 0.85, 0.7],
        "pairs": [1.0, 2.5, 3.5],
    }
    rows = {"a": [10, 10, 10], "b": [10, 10, 10], "c": [10, 10, 10],
            "pairs": [100, 10_000, 1_000_000]}
    assert rows["pairs"][1] / rows["pairs"][0] > MAX_EXEMPT_ROWS_RATIO
    assert fam["pairs"][-1] < 4.0
    flagged, div = flagged_stages(fam, flag_ratio=4.0, stage_rows=rows)
    assert flagged == ["pairs"]
    assert div["pairs"]["divergent_rungs"] == [1, 2]
    assert "output_bound_exempt_rungs" not in div["pairs"]


def test_min_ratio_guards_flat_stage_in_falling_family():
    """A stage that stays flat while its family falls (legitimate:
    fixed floors dominate) exceeds 2× the median but must NOT flag
    until it is actually growing (min_ratio)."""
    fam = {
        "a": [1.0, 0.4, 0.2],
        "b": [1.0, 0.5, 0.3],
        "c": [1.0, 0.4, 0.18],
        "flat": [1.0, 1.0, 1.05],
    }
    div = family_divergence(fam)
    assert div["flat"]["divergent_rungs"] == []
    # ...but a GROWING stage in the same falling family does flag
    fam["flat"] = [1.0, 1.2, 1.8]
    div = family_divergence(fam)
    assert div["flat"]["divergent_rungs"] == [2]


def test_loo_median_catches_co_occurring_hazards():
    """ADVICE r10: with the all-stages median, two simultaneous
    superlinear stages in a 4-stage family masked each other (ratios
    [1, 1, 8, 8] → median 4.5, 8 < 2·4.5, neither flags). The
    leave-one-out baseline excludes the stage under test, so both
    flag; the healthy stages stay clean."""
    fam = {
        "a": [1.0, 1.0, 1.0],
        "b": [1.0, 1.0, 1.0],
        "c": [1.0, 1.1, 8.0],
        "d": [1.0, 1.0, 8.0],
    }
    div = family_divergence(fam)
    assert div["c"]["divergent_rungs"] == [2]
    assert div["d"]["divergent_rungs"] == [2]
    assert div["a"]["divergent_rungs"] == []
    assert div["b"]["divergent_rungs"] == []


def test_single_stage_family_has_no_divergence_baseline():
    # leave-one-out over a 1-stage family has no peers; only the
    # absolute rule applies there
    div = family_divergence({"only": [1.0, 2.0, 3.9]})
    assert div["only"]["divergent_rungs"] == []
