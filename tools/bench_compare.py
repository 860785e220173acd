"""Mechanized cross-round bench comparison (VERDICT r10 #2).

Round after round, per-query regressions were adjudicated by narrative
("probably host noise", "jitter band") — this tool encodes the rules
those adjudications actually used, so the verdict is reproducible:

**Noise model** (SCALE.md round 10): the calibration yardstick itself
swings ×1.29 between same-host runs 30 minutes apart, and ±20% per-
query swings with zero code change are routine; timer/trigger-bound
streaming queries carry most of it. Consequently:

* a single min-of-reps number is NOT evidence of a regression unless
  the ratio clears the noise band — ``NOISE_FACTOR`` (1.5) sits above
  every observed no-change swing (streaming jitter ×1.15–1.19 r9→r10,
  yardstick ×1.29) and below every confirmed blip (minhash ×1.77
  r8→r9, which two later re-runs proved noisy — the flag means
  "re-measure", not "guilty");
* with raw reps on both sides the rule is **all-reps separation**:
  flag only when min(new reps) > max(old reps) — i.e. the single best
  new run is worse than the single worst old run, so no overlap story
  survives. Improvement is the mirror image (max(new) < min(old)).
  One-sided reps use the available spread: old reps only → flag when
  new min > max(old); new reps only → flag when min(new) clears the
  NOISE_FACTOR over the old min.

**Comparability gate**: artifacts are only comparable under the same
workload definition. ``drain`` (count-v1 vs forcing-v2 — round 8
proved count() drains are vacuous for whole query classes) must match
or the tool refuses; artifacts predating the field must be labeled
explicitly (``--assume-drain old=forcing-v2``) — an unlabeled
definition is unknown, not assumed-compatible. ``calibration_boundary``
mismatches gate only the calibration CONTEXT line (the headline
comparison is raw-vs-raw by rule — SCALE.md round 10); crossing a
boundary needs the recorded two-way bridge ratio
(``--calibration-bridge 1.4157``, measured once and recorded in
SCALE.md's round-10 bridge note).

Input formats (auto-detected): a driver ``BENCH_r{N}.json`` wrapper
(``.parsed``), a bare bench JSON line (``BENCH_LAST.json``), or a
``BENCH_LAST_RAW.json`` raw-reps artifact (``.runs``).

Usage::

    python tools/bench_compare.py BENCH_r09.json BENCH_r10.json \
        --assume-boundary old=hoisted-v2
    python tools/bench_compare.py BENCH_r08.json BENCH_r09.json \
        --assume-drain old=forcing-v2 --assume-boundary old=per-rep-v1 \
        --assume-boundary new=hoisted-v2 --calibration-bridge 1.4157
    python tools/bench_compare.py BENCH_r11.json BENCH_r12.json \
        --old-raw BENCH_RAW_r11_driver.json \
        --pool-new BENCH_RAW_r12_run1.json --pool-new BENCH_RAW_r12_run2.json

Output: a per-query verdict table on stderr-free stdout plus ONE
trailing JSON line ``{"flagged": [...], "improved": [...], ...}``.
"""

from __future__ import annotations

import argparse
import json
import sys

#: mins-only flag threshold. Above every observed zero-code-change
#: swing (streaming ×1.15–1.19, yardstick ×1.29, SCALE.md r10), below
#: every blip that warranted re-measurement (minhash ×1.77 r8→r9).
NOISE_FACTOR = 1.5

#: High-variance ledger (VERDICT r12 #1): queries whose MEASURED
#: zero-code-change variance exceeds the global noise band get a
#: per-query mins-only threshold sized from a dedicated A/B receipt.
#: x9_pack_shards / x9_source_mix: twice flagged (r11, r12), twice
#: pool-adjudicated noise; tools/x9_ab.py (X9_AB.json, healthy
#: window, 40 interleaved reps, code+plan byte-identical r11→r13)
#: measured same-window per-rep spreads of ×2.13 / ×1.96 with both
#: committed round values inside the observed envelope — their
#: zero-work scan floor twin swings as much, so the variance is the
#: host scan cost class, not query compute. 2.2 sits just above the
#: measured spread. Applies ONLY to mins-only / new-reps-only
#: verdicts; all-reps separation is unaffected (a real regression
#: that separates every rep still flags).
HIGH_VARIANCE = {
    "x9_pack_shards": 2.2,
    "x9_source_mix": 2.2,
}


class IncomparableError(ValueError):
    """The two artifacts measure different workload definitions."""


def load_artifact(path: str) -> dict:
    """Normalize any bench artifact to
    {queries: {q: min}, runs: {q: [reps]}|None, meta: {...}}."""
    with open(path) as fh:
        d = json.load(fh)
    if "parsed" in d and isinstance(d["parsed"], dict):  # driver wrapper
        d = d["parsed"]
    if "runs" in d and isinstance(d["runs"], dict):  # raw-reps artifact
        runs = d["runs"]
        return {
            "queries": {q: min(r) for q, r in runs.items() if r},
            "runs": runs,
            "meta": {k: v for k, v in d.items() if k != "runs"},
        }
    if "queries" in d:
        return {
            "queries": dict(d["queries"]),
            "runs": None,
            "meta": {k: v for k, v in d.items() if k != "queries"},
        }
    raise ValueError(f"{path}: not a recognizable bench artifact")


def merge_pool(art: dict, paths: list[str], side: str) -> list[str]:
    """Pooled adjudication (VERDICT r11 #1): merge additional raw-reps
    artifacts into one side so the all-reps-separation rule runs across
    EVERY rep of EVERY archived run — the round-11 "pool all 30 reps,
    zero separations" verdict was computed by hand off files that never
    reached the repo; this makes it a tool mode over committed
    ``BENCH_RAW_r{N}_run{k}.json`` artifacts.

    Failed-query sentinel reps (≤ 0) are dropped. A pooled artifact
    that carries a ``drain`` label must match the primary's (raw
    artifacts predating round 12 carry no label and are accepted —
    the committed archive starts at r11's driver run, which is
    forcing-v2 per SCALE.md); likewise the self-describing ``sf`` /
    ``cpus`` fields (round 12) must match when both sides carry them —
    reps measured at a different scale factor or core count are not
    comparable observations. Pooled mins re-derive ``queries`` so
    ratios/headline reflect the pool — but ONLY when something was
    actually pooled (ADVICE r12: an unconditional re-derive changed
    --old-raw/--new-raw behavior and let a failed-query sentinel rep
    become the min), and only over reps > 0."""
    if not paths:
        return []
    if art["runs"] is None:
        # The primary is a mins-only artifact: its per-query min is a
        # real observation and must participate in the all-reps
        # separation rule (ADVICE r12) — seed it as a single rep.
        art["runs"] = {
            q: [m] for q, m in art["queries"].items() if m > 0
        }
    used = []
    for p in paths:
        raw = load_artifact(p)
        if raw["runs"] is None:
            raise IncomparableError(f"--pool-{side} {p}: carries no reps")
        pd, ad = raw["meta"].get("drain"), art["meta"].get("drain")
        if pd is not None and ad is not None and pd != ad:
            raise IncomparableError(
                f"--pool-{side} {p}: drain {pd!r} != primary {ad!r} — "
                "pooled runs must measure the same workload definition"
            )
        for field in ("sf", "cpus"):
            pv, av = raw["meta"].get(field), art["meta"].get(field)
            if pv is not None and av is not None and pv != av:
                raise IncomparableError(
                    f"--pool-{side} {p}: {field} {pv!r} != primary "
                    f"{av!r} — reps from a different {field} are not "
                    "comparable observations"
                )
        for q, reps in raw["runs"].items():
            good = [r for r in reps if r > 0]
            if good:
                art["runs"][q] = [
                    r for r in art["runs"].get(q, []) if r > 0
                ] + good
        used.append(p)
    for q, reps in art["runs"].items():
        good = [r for r in reps if r > 0]
        if good:
            # a failed-query sentinel (<= 0) recorded as the primary's
            # min must not survive pooling as "the min"
            prev = art["queries"].get(q, float("inf"))
            if prev <= 0:
                prev = float("inf")
            art["queries"][q] = min(min(good), prev)
    return used


def _effective(meta: dict, field: str, assumed: str | None) -> str | None:
    v = meta.get(field)
    if v is not None and assumed is not None and v != assumed:
        raise IncomparableError(
            f"{field}: artifact says {v!r} but --assume says {assumed!r} — "
            "drop the assume flag for labeled artifacts"
        )
    return v if v is not None else assumed


def _verdict(
    old_reps,
    new_reps,
    old_min: float,
    new_min: float,
    factor: float = NOISE_FACTOR,
) -> str:
    """One query's verdict under the rules in the module docstring.
    ``factor`` is the mins-only noise threshold — NOISE_FACTOR unless
    the query is in the HIGH_VARIANCE ledger; the reps-based paths
    never use it (measured spreads beat any scalar band)."""
    if old_reps and new_reps:
        if min(new_reps) > max(old_reps):
            return "REGRESSED"
        if max(new_reps) < min(old_reps):
            return "improved"
        return "same"
    if old_reps:  # new side is a min only — still a real observation
        if new_min > max(old_reps):
            return "REGRESSED"
        if new_min < min(old_reps):
            return "improved"
        return "same"
    if new_reps:
        if min(new_reps) > factor * old_min:
            return "REGRESSED"
        if max(new_reps) < old_min / factor:
            return "improved"
        return "same"
    if new_min > factor * old_min:
        return "REGRESSED"
    if new_min < old_min / factor:
        return "improved"
    return "same"


def compare_artifacts(
    old: dict,
    new: dict,
    assume: dict | None = None,
    calibration_bridge: float | None = None,
) -> dict:
    """Pure comparison: raises IncomparableError on a drain mismatch,
    returns {verdicts, flagged, improved, headline_old, headline_new,
    headline_ratio, calibration: {...}} otherwise."""
    assume = assume or {}
    old_drain = _effective(old["meta"], "drain", assume.get("old_drain"))
    new_drain = _effective(new["meta"], "drain", assume.get("new_drain"))
    if old_drain is None or new_drain is None:
        raise IncomparableError(
            "drain definition unlabeled on "
            + ("old" if old_drain is None else "new")
            + " side — an unknown workload definition is not assumed "
            "compatible; label it with --assume-drain side=forcing-v2 "
            "(BENCH_r08 onward is forcing-v2 per SCALE.md)"
        )
    if old_drain != new_drain:
        raise IncomparableError(
            f"drain mismatch ({old_drain!r} vs {new_drain!r}): different "
            "workload definitions — re-bench one side under the other's "
            "definition; there is no scalar bridge for drains (round 8 "
            "re-based the headline 34.37→52.57s for exactly this reason)"
        )

    verdicts: dict[str, dict] = {}
    shared = sorted(set(old["queries"]) & set(new["queries"]))
    for q in shared:
        o_min, n_min = old["queries"][q], new["queries"][q]
        v = _verdict(
            (old["runs"] or {}).get(q),
            (new["runs"] or {}).get(q),
            o_min,
            n_min,
            factor=HIGH_VARIANCE.get(q, NOISE_FACTOR),
        )
        verdicts[q] = {
            "old_min": o_min,
            "new_min": n_min,
            "ratio": round(n_min / o_min, 4) if o_min else None,
            "verdict": v,
            **(
                {"high_variance_factor": HIGH_VARIANCE[q]}
                if q in HIGH_VARIANCE
                else {}
            ),
        }

    # headline: raw-vs-raw sum over shared queries (artifact `value`
    # fields can cover different catalogs)
    h_old = sum(old["queries"][q] for q in shared)
    h_new = sum(new["queries"][q] for q in shared)

    # calibration context (context ONLY, never part of verdicts)
    cal: dict = {"comparable": False}
    ob = _effective(old["meta"], "calibration_boundary", assume.get("old_boundary"))
    nb = _effective(new["meta"], "calibration_boundary", assume.get("new_boundary"))
    oc, nc = old["meta"].get("calibration_sec"), new["meta"].get("calibration_sec")
    if oc and nc:
        if ob is not None and ob == nb:
            cal = {"comparable": True, "ratio": round(nc / oc, 4)}
        elif calibration_bridge:
            # bridge maps OLD-boundary seconds onto the NEW boundary's
            # scale (per-rep ≙ hoisted × bridge, SCALE.md round 10)
            cal = {
                "comparable": True,
                "bridged": True,
                "ratio": round(nc / (oc / calibration_bridge), 4),
            }
        else:
            cal = {
                "comparable": False,
                "reason": f"calibration_boundary {ob!r} vs {nb!r}: bridge "
                "required (--calibration-bridge; 1.4157 recorded in SCALE.md)",
            }

    # I/O yardstick context (round 11): the CPU yardstick is blind to
    # I/O degradation (a matched calibration_sec with a x1.16 headline,
    # SCALE.md round 11) — report the small-file probe ratio alongside
    # when both artifacts carry the same probe. Context only.
    oio, nio = old["meta"].get("io_calibration_sec"), new["meta"].get(
        "io_calibration_sec"
    )
    if oio and nio and (
        old["meta"].get("io_calibration_probe")
        == new["meta"].get("io_calibration_probe")
    ):
        cal["io_ratio"] = round(nio / oio, 4)

    # batch/streaming sub-totals (computed over shared queries so the
    # split is comparable even if one artifact predates the
    # headline_batch/headline_streaming fields)
    s_old = sum(old["queries"][q] for q in shared if q.startswith("s_"))
    s_new = sum(new["queries"][q] for q in shared if q.startswith("s_"))

    flagged = [q for q, v in verdicts.items() if v["verdict"] == "REGRESSED"]
    improved = [q for q, v in verdicts.items() if v["verdict"] == "improved"]
    # pre-flight window labels (round 12): context like the
    # yardsticks — a degraded side means cross-round conclusions
    # from MINS are suspect; the all-reps rule itself stays valid
    # (degradation only widens spreads, it cannot fake an overlap
    # into a separation on the side that got slower)
    windows = {
        side: art["meta"].get("window")
        for side, art in (("old", old), ("new", new))
        if art["meta"].get("window") is not None
    }
    return {
        "windows": windows,
        "headline_batch_old": round(h_old - s_old, 4),
        "headline_batch_new": round(h_new - s_new, 4),
        "headline_streaming_old": round(s_old, 4),
        "headline_streaming_new": round(s_new, 4),
        "verdicts": verdicts,
        "flagged": flagged,
        "improved": improved,
        "only_old": sorted(set(old["queries"]) - set(new["queries"])),
        "only_new": sorted(set(new["queries"]) - set(old["queries"])),
        "headline_old": round(h_old, 4),
        "headline_new": round(h_new, 4),
        "headline_ratio": round(h_new / h_old, 4) if h_old else None,
        "drain": old_drain,
        "calibration": cal,
        "mode": "all-reps"
        if (old["runs"] and new["runs"])
        else ("one-sided-reps" if (old["runs"] or new["runs"]) else "mins-only"),
    }


def _parse_assume(pairs: list[str], field: str) -> dict:
    out = {}
    for p in pairs:
        side, _, val = p.partition("=")
        if side not in ("old", "new") or not val:
            raise SystemExit(f"--assume-{field} expects old=VALUE or new=VALUE")
        out[f"{side}_{field}"] = val
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--old-raw", help="raw-reps artifact for the old side")
    ap.add_argument("--new-raw", help="raw-reps artifact for the new side")
    ap.add_argument(
        "--pool-old",
        action="append",
        default=[],
        metavar="RAW",
        help="additional raw-reps artifact(s) pooled into the old side "
        "(all-reps rule then spans every rep of every pooled run)",
    )
    ap.add_argument(
        "--pool-new",
        action="append",
        default=[],
        metavar="RAW",
        help="additional raw-reps artifact(s) pooled into the new side",
    )
    ap.add_argument(
        "--assume-drain",
        action="append",
        default=[],
        metavar="SIDE=VALUE",
        help="label an artifact that predates the drain field",
    )
    ap.add_argument(
        "--assume-boundary",
        action="append",
        default=[],
        metavar="SIDE=VALUE",
        help="label an artifact that predates calibration_boundary",
    )
    ap.add_argument(
        "--calibration-bridge",
        type=float,
        help="two-way bridge ratio across a calibration_boundary change",
    )
    args = ap.parse_args(argv)

    old, new = load_artifact(args.old), load_artifact(args.new)
    for side, raw_path, art in (("old", args.old_raw, old), ("new", args.new_raw, new)):
        if raw_path:
            raw = load_artifact(raw_path)
            if raw["runs"] is None:
                raise SystemExit(f"--{side}-raw {raw_path}: carries no reps")
            art["runs"] = raw["runs"]

    assume = {
        **_parse_assume(args.assume_drain, "drain"),
        **_parse_assume(args.assume_boundary, "boundary"),
    }
    try:
        pooled_old = merge_pool(old, args.pool_old, "old")
        pooled_new = merge_pool(new, args.pool_new, "new")
        res = compare_artifacts(
            old, new, assume=assume, calibration_bridge=args.calibration_bridge
        )
    except IncomparableError as e:
        print(f"REFUSED: {e}")
        return 2
    res["pooled_old"] = pooled_old
    res["pooled_new"] = pooled_new

    width = max((len(q) for q in res["verdicts"]), default=8)
    for q, v in sorted(
        res["verdicts"].items(), key=lambda kv: -(kv[1]["ratio"] or 0)
    ):
        mark = {"REGRESSED": "!!", "improved": "++", "same": "  "}[v["verdict"]]
        print(
            f"{mark} {q:<{width}} {v['old_min']:>8.3f} -> {v['new_min']:>8.3f}"
            f"  x{v['ratio']:.2f}  {v['verdict']}"
        )
    print(
        f"headline (shared queries, raw-vs-raw): {res['headline_old']:.2f} -> "
        f"{res['headline_new']:.2f}  x{res['headline_ratio']:.3f}  "
        f"[mode={res['mode']}, drain={res['drain']}]"
    )
    print(
        f"  batch     {res['headline_batch_old']:.2f} -> "
        f"{res['headline_batch_new']:.2f}   streaming "
        f"{res['headline_streaming_old']:.2f} -> "
        f"{res['headline_streaming_new']:.2f} (cadence-floor-bound, "
        "see SCALE.md floor table)"
    )
    cal = res["calibration"]
    if cal.get("comparable"):
        b = " (bridged)" if cal.get("bridged") else ""
        print(
            f"calibration context{b}: yardstick ratio x{cal['ratio']:.3f} — "
            "context only, NEVER a verdict input (the yardstick itself "
            "swings x1.29 same-host, SCALE.md r10; CPU-only — blind to "
            "I/O degradation, SCALE.md r11)"
        )
    else:
        print(f"calibration context: {cal.get('reason', 'unavailable')}")
    if cal.get("io_ratio") is not None:
        print(
            f"io yardstick context: small-file probe ratio "
            f"x{cal['io_ratio']:.3f} — localizes a slow window to I/O "
            "vs CPU; context only"
        )
    if res["windows"]:
        print(
            "pre-flight windows: "
            + ", ".join(f"{s}={w}" for s, w in sorted(res["windows"].items()))
            + " — a degraded side weakens min-based conclusions; the "
            "all-reps separation rule remains valid"
        )
    print(json.dumps({k: v for k, v in res.items() if k != "verdicts"}))
    return 1 if res["flagged"] else 0


if __name__ == "__main__":
    sys.exit(main())
