"""Shared flagging rules for the data-axis scale ladders
(tools/axis_ladder.py: dim, doclen, jsonsize).

Two rules, applied together (VERDICT r8 item 3):

1. **Absolute**: top-rung ratio > FLAG_RATIO (the runner's 4.0). Catches
   an outright superlinearity — but only once it clears the stage's
   fixed floors, which a deep final rung guarantees and mid rungs do
   not.
2. **Family divergence** (the int8 lesson, SCALE.md round 8): the live
   Θ(d²) in int8 quantization measured ×2.4 at d×16 — real, but under
   the absolute 4× line; it was caught only because every OTHER vector
   stage trended flat-down on the same corpus. The rule: at each rung,
   a stage whose ratio exceeds ``factor`` × the family median ratio
   (same corpus, same rung) AND clears ``min_ratio`` is divergent. The
   ``min_ratio`` guard keeps a flat stage inside a falling family
   (x6_json_extract's family drops to ×0.2) from flagging until it is
   actually growing.

Calibrated against the round-8 healthy artifacts: the worst
non-hazard row (mm_neardup, output-bound ×1.7 at the ×16 rung vs
family median 0.93) sits just under factor 2.0; the pre-fix int8
replay (×2.4 vs median ~0.8) sits clearly over. The self-check in
tests/test_ladder_flags.py replays both.
"""

from __future__ import annotations

import statistics

#: the largest output growth (rows at rung i / rows at rung 0) the
#: output-bound exemption may waive: 2x the largest legitimate growth
#: on record, mm_neardup's near-dup pairs at x29.4 on the T x16 rung
#: (SCALE_DOCLEN.json). Past it the output is itself the blowup: a
#: pair-count explosion grows rows and seconds together, and that
#: still flags.
MAX_EXEMPT_ROWS_RATIO = 64.0


def family_divergence(
    stage_secs: dict[str, list[float]],
    factor: float = 2.0,
    min_ratio: float = 1.5,
    floor_sec: float = 0.01,
) -> dict[str, dict]:
    """Per-stage rung ratios + the rung indices where the stage
    diverges from its family.

    ``stage_secs`` maps stage name → seconds per rung (same rung order
    for every stage; rung 0 is the base). Returns
    ``{stage: {"ratios": [...], "divergent_rungs": [...]}}`` where a
    rung i (i ≥ 1) is divergent iff
    ``ratio_i > factor * median(OTHER stages' ratios at rung i)`` and
    ``ratio_i >= min_ratio``.

    The baseline is a LEAVE-ONE-OUT median (ADVICE r10): with the
    all-stages median, two simultaneous superlinear stages in a small
    family mask each other — e.g. a 4-stage family with ratios
    [1, 1, 8, 8] has median 4.5, so 8 < 2·4.5 and neither flags.
    Excluding the stage under test from its own baseline makes the
    same case [1, 1, 8] → median 1, 8 > 2 → both flag. BLIND SPOT
    (inherent, documented): a superlinearity SHARED by the whole
    family — every stage ×8 because the corpus generator, not a
    stage, went quadratic — shifts every leave-one-out median equally
    and is invisible to any within-family relative rule; only the
    absolute top-rung rule (flagged_stages) can catch it."""
    ratios = {
        s: [sec / max(secs[0], floor_sec) for sec in secs]
        for s, secs in stage_secs.items()
    }
    n_rungs = min(len(r) for r in ratios.values())
    out = {
        s: {"ratios": [round(r, 2) for r in ratios[s]], "divergent_rungs": []}
        for s in stage_secs
    }
    for i in range(1, n_rungs):
        for s in stage_secs:
            others = [ratios[o][i] for o in stage_secs if o != s]
            if not others:
                continue  # single-stage family: no peers to diverge from
            med = statistics.median(others)
            r = ratios[s][i]
            if r > factor * med and r >= min_ratio:
                out[s]["divergent_rungs"].append(i)
    return out


def flagged_stages(
    stage_secs: dict[str, list[float]],
    flag_ratio: float,
    floor_sec: float = 0.01,
    stage_rows: dict[str, list[int]] | None = None,
) -> tuple[list[str], dict[str, dict]]:
    """Apply both rules; returns (flagged stage names, divergence map).

    A stage is flagged if its TOP-rung ratio exceeds ``flag_ratio``
    (absolute rule) or ANY rung is family-divergent — the mid-rung
    case is exactly the one the absolute rule misses.

    **Output-bound exemption** (r18, ``stage_rows``): a stage whose
    OUTPUT CARDINALITY grows at least as fast as its seconds is doing
    work proportional to its output relation, not a per-doc
    superlinearity — mm_neardup emits near-dup PAIRS, and at fixed
    token volume longer docs legitimately produce ×29 the pairs for
    ×1.6 the time (sec/pair FALLS). That stage had always sat "just
    under factor 2.0" (module docstring); the r18 optimizations
    lowered every OTHER stage's top-rung ratio, dropped the
    leave-one-out median, and the unchanged mm_neardup crossed the
    relative line with no code change to it at all. When callers pass
    per-stage output rows, a divergent rung is exempt iff
    ``sec_i/sec_0 <= rows_i/rows_0 <= MAX_EXEMPT_ROWS_RATIO`` (rows_0
    > 0 required; the ABSOLUTE rule is untouched — a family-wide
    blowup still flags).
    The exemption is recorded in the divergence map
    (``output_bound_exempt_rungs``) so the receipt shows what was
    waived and why, rather than silently passing."""
    div = family_divergence(stage_secs, floor_sec=floor_sec)
    flagged = []
    for s, secs in stage_secs.items():
        divergent = list(div[s]["divergent_rungs"])
        rows = (stage_rows or {}).get(s)
        if rows and rows[0] > 0 and divergent:
            exempt = []
            for i in divergent:
                sec_ratio = secs[i] / max(secs[0], floor_sec)
                rows_ratio = rows[i] / rows[0]
                if sec_ratio <= rows_ratio <= MAX_EXEMPT_ROWS_RATIO:
                    exempt.append(i)
            if exempt:
                div[s]["output_bound_exempt_rungs"] = exempt
                divergent = [i for i in divergent if i not in exempt]
                div[s]["divergent_rungs"] = divergent
        top = secs[-1] / max(secs[0], floor_sec)
        if top > flag_ratio or divergent:
            flagged.append(s)
    return flagged, div
