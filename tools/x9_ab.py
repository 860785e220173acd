#!/usr/bin/env python
"""Dedicated A/B for the twice-flagged x9_pack_shards / x9_source_mix
bench drift (VERDICT r12 #1).

History: both queries read ~1.6× slower in the committed min-of-reps
of BENCH_r12 vs BENCH_r11 (pack 0.478→0.774 s, mix 0.396→0.646 s),
were pool-adjudicated "noise" both rounds (zero all-reps separations
across 35 reps), yet kept reappearing. The code-identity half of the
investigation is already file-backed: ``curation.py`` is byte-identical
across r11→r13 (``git log 3c9e8be..HEAD -- operators/curation.py`` is
empty) and the pinned x9_pack_shards plan is normalized-identical
between the r11 and r12 PLANS.md — so a plan/packing regression is
ruled out; what remains is to MEASURE the pair's intrinsic variance on
a healthy window and size a per-query noise threshold from it.

Protocol:

* pre-flight the window with the exact bench yardsticks
  (``bench.cpu_calibration`` / ``bench.io_calibration`` — shared code
  path, not a re-implementation) and label via
  ``bench.preflight_window`` (cpu+io probes only; the streaming floor
  twins are irrelevant to two batch scan-bound queries);
* N interleaved reps (default 24, rotating order per rep so neither
  query systematically inherits the other's GC/cache shadow) of:
  - ``x9_pack_shards``  (scan → token_count → window-sum → agg)
  - ``x9_source_mix``   (scan → hash filter → agg)
  - ``floor_docs_scan`` — the ZERO-WORK twin: the same
    fan_out(documents) scan drained with no tokenization, window, or
    filter. Both queries are scan-dominated; if the floor twin swings
    as much as the queries, the variance lives in the scan/host I/O
    cost class, not in either query's compute;
* per-query stats (min/median/max/stdev/CV, spread = max/min) plus
  the mechanical verdict: the committed r11→r12 min-of-reps ratio is
  NOISE-CONFIRMED for a query when the observed same-window spread
  reaches it (a single window reproduces swings that large without
  any code change).

The measured spreads feed ``bench_compare.HIGH_VARIANCE`` — the
high-variance ledger that widens the mins-only flag threshold for
exactly these queries so the pair stops reappearing in adjudications
(all-reps mode is unaffected: real separations still flag).

    python tools/x9_ab.py                 # sf0.1, 24 reps → X9_AB.json

Writes X9_AB.json; exit 1 only on harness failure (a noise-confirmed
or regression verdict both exit 0 — the artifact is the deliverable).
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

#: committed min-of-reps under adjudication (BENCH_r11 / BENCH_r12)
COMMITTED = {
    "x9_pack_shards": {"r11": 0.478, "r12": 0.774},
    "x9_source_mix": {"r11": 0.396, "r12": 0.646},
}

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_REPS = int(os.environ.get("SPARK_GRAFT_X9_REPS", "24"))


def floor_docs_scan(spark, sf_dir: str):
    """Zero-work twin: the fan_out(documents) scan both queries start
    from, drained as-is — no tokenization, window, or filter."""
    from odoo_batch_processing_spark.sources.loader import fan_out, load_table

    return fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id").select(
        "doc_id", "source"
    )


def main() -> int:
    from bench import cpu_calibration, drain, io_calibration, preflight_window
    from odoo_batch_processing_spark.registry import all_queries
    from odoo_batch_processing_spark.session import get_spark, release_materialized

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    spark = get_spark("x9-ab", cpus=CPUS, shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    # extended lookup: x9_source_mix is not in the core tier
    queries = all_queries(extended=True)
    targets = {
        "x9_pack_shards": queries["x9_pack_shards"],
        "x9_source_mix": queries["x9_source_mix"],
        "floor_docs_scan": floor_docs_scan,
    }

    # warm each target once unmeasured BEFORE the yardsticks —
    # bench.py's protocol calibrates after a warmup drain, and the
    # HEALTHY_WINDOW cpu ref is a post-warmup number (a cold-session
    # calibration reads ~1.7x and mislabels a healthy window degraded)
    for fn in targets.values():
        drain(fn(spark, SF_DIR))

    # window label from the exact bench probes (cpu+io classes only)
    pre = preflight_window(
        {
            "cpu_calibration_sec": cpu_calibration(spark, SF_DIR, 5),
            "io_calibration_sec": io_calibration(5),
        },
        applicable=(SF_DIR.rstrip("/").endswith("sf0.1") and CPUS == 32),
    )
    print(f"x9_ab: window = {pre['window']}", file=sys.stderr)

    order = list(targets)
    runs: dict[str, list[float]] = {n: [] for n in targets}
    for i in range(N_REPS):
        rot = order[i % len(order):] + order[: i % len(order)]
        for name in rot:
            release_materialized()
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            drain(targets[name](spark, SF_DIR))
            runs[name].append(round(time.perf_counter() - t0, 4))
        gc.collect()

    stats: dict[str, dict] = {}
    for name, reps in runs.items():
        mn, mx = min(reps), max(reps)
        mean = statistics.mean(reps)
        stats[name] = {
            "n": len(reps),
            "min": mn,
            "median": round(statistics.median(reps), 4),
            "max": mx,
            "mean": round(mean, 4),
            "stdev": round(statistics.stdev(reps), 4),
            "cv": round(statistics.stdev(reps) / mean, 4),
            "spread": round(mx / mn, 4),
        }

    verdicts: dict[str, dict] = {}
    for name, committed in COMMITTED.items():
        committed_ratio = round(committed["r12"] / committed["r11"], 4)
        observed = stats[name]["spread"]
        both_inside = all(
            stats[name]["min"] <= committed[r] <= stats[name]["max"]
            for r in ("r11", "r12")
        )
        verdicts[name] = {
            "committed_ratio_r11_to_r12": committed_ratio,
            "observed_same_window_spread": observed,
            "committed_mins_inside_observed_range": both_inside,
            # noise is confirmed when a single zero-code-change window
            # either (a) reproduces per-rep swings at least as large as
            # the cross-round committed ratio, or (b) produces reps on
            # BOTH sides of both committed values — i.e. the committed
            # r11 and r12 numbers are both ordinary draws from this
            # window's distribution
            "noise_confirmed": observed >= committed_ratio or both_inside,
        }

    out = {
        "metric": "x9_ab_interleaved_reps",
        "sf_dir": SF_DIR,
        "cpus": CPUS,
        "n_reps": N_REPS,
        "protocol": "interleaved, order rotated per rep, cache cleared "
        "per execution, min/median/max over all reps",
        "window": pre["window"],
        "preflight": pre,
        "committed": COMMITTED,
        "runs": runs,
        "stats": stats,
        "verdicts": verdicts,
        "plan_identity": {
            "curation_py_commits_since_r11": 0,
            "x9_pack_shards_plan_r11_vs_r12": "normalized-identical (PLANS.md)",
            "note": "code+plan identity verified before measuring; see "
            "module docstring for the exact git commands",
        },
    }
    with open(os.path.join(REPO_ROOT, "X9_AB.json"), "w") as fh:
        json.dump(out, fh, indent=2)
        fh.write("\n")
    for name, st in stats.items():
        print(
            f"{name:<18} min {st['min']:.3f}  med {st['median']:.3f}  "
            f"max {st['max']:.3f}  cv {st['cv']:.3f}  spread x{st['spread']:.2f}",
            file=sys.stderr,
        )
    print(json.dumps({"window": pre["window"], "verdicts": verdicts}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
