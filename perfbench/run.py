"""Same-host benchmark for odoo_batch_processing_spark.

    python3 perfbench/run.py --workload catalog-core --seed 1 --seconds 20 --trace 0

Runs one seeded workload on a session sized to this host, checks every
result, prints a table of its figures and, as the last line, one JSON
object with the metrics named in BENCHMARK.json (end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``). See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

WORKLOADS = ("catalog-core", "stream-changefeed")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


#: Untimed rounds after the cold pass, counted in set-up. The JIT is
#: still compiling through the first few rounds: each ran faster and
#: used less CPU than the one before.
WARM_ROUNDS = 2


def closed_loop(ctx, w) -> dict:
    """Set up once (generate the inputs, start the JVM and session,
    stage, run the checked cold pass and the warm rounds), then run as
    many whole rounds of the workload as fit in ``ctx.seconds``. A
    traced invocation alternates untraced and traced rounds, so it
    measures its own tracing overhead."""
    from host import calibration_cpu_s, cpu_delta, cpu_layers, cpu_parts
    from stats import median
    from tracer import ExecProbe

    tracer = ctx.tracer
    if ctx.trace:
        w.patch(tracer)
    t0 = time.perf_counter()
    w.generate()
    ctx.start_session()
    w.stage(ctx.spark)
    check_failures, check_s = w.cold_pass(ctx.spark)
    failed = len(check_failures)
    for _ in range(WARM_ROUNDS):
        failed += w.round(ctx.spark, None, [], [])
    setup = time.perf_counter() - t0 - check_s
    walls = {False: [], True: []}
    cpus, cal = [], []
    per_op: dict = {}
    catalyst = []
    attempted = (1 + WARM_ROUNDS) * len(w.ops)
    probe = None
    pid, jvm = os.getpid(), ctx.jvm_pid()
    start = time.perf_counter()
    n_round = 0
    while True:
        traced = ctx.trace and n_round % 2 == 1
        if traced and probe is None:
            probe = ExecProbe(ctx.spark)
        tracer.active = traced
        lat: list = []
        if not traced:
            cal.append(calibration_cpu_s(ctx.spark._jvm))
        cpu0 = cpu_parts(pid, jvm)
        t0 = time.perf_counter()
        failed += w.round(ctx.spark, probe if traced else None, lat, catalyst)
        walls[traced].append(time.perf_counter() - t0)
        if not traced:
            cpus.append(cpu_delta(cpu0, cpu_parts(pid, jvm)))
        tracer.active = False
        attempted += len(lat)
        if not traced:
            for op, seconds in zip(w.op_names, lat):
                per_op.setdefault(op, []).append(seconds)
        n_round += 1
        elapsed = time.perf_counter() - start
        # whole rounds that fit in the time; at least two, and with
        # tracing at least one of each kind
        if n_round >= 2 and elapsed * (n_round + 1) / n_round > ctx.seconds and (
            not ctx.trace or walls[True]
        ):
            break
    if hasattr(w, "close"):
        w.close(ctx.spark)
    run_s = median(walls[False])
    out = {
        "setup": setup,
        "check_s": check_s,
        "check_failures": check_failures,
        "run_s": run_s,
        # per operation: a round's CPU over its query count
        "cpu": {k: median([c[k] for c in cpus]) / len(w.ops) for k in cpus[0]},
        "rounds": walls[False],
        "round_cpus": [c["program"] for c in cpus],
        "calibration_s": cal,
        # one sample per operation of the round: its median over the
        # untraced rounds, so the sample count does not depend on how
        # many rounds fitted in the time
        "latencies": [median(v) for v in per_op.values()],
        "per_op": {k: median(v) for k, v in per_op.items()},
        "rows_per_s": w.rows_per_round / run_s,
        "attempted": attempted,
        "failed": failed,
        "notes": dict(w.notes),
    }
    if ctx.trace:
        out["traced_run_s"] = median(walls[True])
        out["layers"] = layer_metrics(ctx, w, probe, catalyst, len(walls[True]))
        out["layers"].update(cpu_layers(out["cpu"]))
    return out


def layer_metrics(ctx, w, probe, catalyst, traced_rounds) -> dict:
    from stats import median, self_times, total_times

    spans = ctx.tracer.spans
    n_ops = max(1, traced_rounds * len(w.ops))
    totals = total_times(spans)
    selfs = self_times(spans)
    layers = {
        "session.start_s": median(ctx.session_starts),
        "session.release_s": totals.get("session.release", 0.0) / n_ops,
        "session.pins_per_op": sum(ctx.notes.get("pins", [])) / max(1, len(ctx.notes.get("pins", []))),
    }
    for name, total in sorted(totals.items()):
        if name in ("op", "session.release"):
            continue
        layers[f"{name}_s"] = total / n_ops
        layers[f"{name}.self_s"] = selfs[name] / n_ops
    for name, n in ctx.tracer.counts.items():
        layers[name] = n / n_ops if name.endswith("_calls") else n
    if catalyst:
        for phase in ("analysis", "optimization", "planning"):
            layers[f"catalyst.{phase}_s"] = sum(c[phase] for c in catalyst) / len(catalyst)
    if probe is not None:
        layers.update(probe.per_op())
    layers.update(w.layer_extras() if hasattr(w, "layer_extras") else {})
    return layers


def main(argv=None) -> int:
    started = time.perf_counter()
    args = parse_args(argv)
    try:
        import odoo_batch_processing_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    import common
    import host
    from stats import tail_percentile, median

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    for sub in ("tmp", "spark-local", "inputs"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR, in case an import cached /tmp

    scratch_before = common.scratch_snapshot(ROOT)
    ctx = common.Context(ROOT, work, args.seed, args.seconds, bool(args.trace))
    record = host.host_record(ROOT, args.seed)
    try:
        if args.workload == "catalog-core":
            from w_catalog import CatalogCore

            result = closed_loop(ctx, CatalogCore(ctx))
        else:
            from w_stream import run_stream

            result = run_stream(ctx)
        rss = host.peak_rss_mb(ctx.jvm_pid()) + host.peak_rss_mb(os.getpid())
    finally:
        ctx.tracer.restore()
        ctx.stop_session()
        ctx.shutdown_jvm()
        scratch = common.clean_scratch(ROOT, scratch_before)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    lat = result["latencies"]
    tail_p, tail_v, n_lat = tail_percentile(lat)
    e2e = {
        "setup_s": result["setup"],
        # scaled by the fastest calibration of the run: a sort is only
        # ever slowed by momentary interference, so the fastest one is
        # the cleanest reading of the host's speed in that run
        "op_cpu_norm_s": result["cpu"]["program"] * host.CALIBRATION_REF_S / min(result["calibration_s"]),
        "op_cpu_s": result["cpu"]["program"],
        "run_s": result["run_s"],
        "op_p50_s": median(lat),
        "op_tail_s": tail_v,
        "rows_per_s": result["rows_per_s"],
        "peak_rss_mb": rss,
    }
    attempted, failed = result["attempted"], result["failed"]
    print(f"# perfbench {args.workload} " + " ".join(f"{k}={v}" for k, v in record.items()))
    if "rounds" in result:
        print(f"# checks {result['check_s']:.2f} s; "
              f"rounds (s): {', '.join(f'{s:.3f}' for s in result['rounds'])}; "
              f"round CPU (s): {', '.join(f'{s:.2f}' for s in result['round_cpus'])}")
    units = {"op_cpu_s": "s", "run_s": "s", "op_p50_s": "s", "op_tail_s": "s", "rows_per_s": "rows/s", "peak_rss_mb": "MB"}
    units |= {m["name"]: m["unit"] for m in spec["end_to_end"]}
    for name, v in e2e.items():
        extra = f"  (p{tail_p}, n={n_lat})" if name == "op_tail_s" else ""
        print(f"{name:>14} {v:14.4f} {units[name]}{extra}")
    print(f"{'error_rate':>14} {failed / attempted:14.4f} ratio  ({failed}/{attempted})")
    print("# CPU per operation (s): " + ", ".join(f"{k} {v:.3f}" for k, v in result["cpu"].items()))
    print("# calibration sort CPU (s): " + ", ".join(f"{c:.4f}" for c in result["calibration_s"]))
    for op, seconds in sorted(result.get("per_op", {}).items(), key=lambda kv: -kv[1]):
        print(f"# op {op}: {seconds:.4f} s")
    for f in result["check_failures"]:
        print(f"# check failed: {f}")
    for k, v in sorted(result["notes"].items()):
        print(f"# {k} = {v}")
    print(f"# wall {time.perf_counter() - started:.1f} s")
    print(f"# scratch: kept {scratch['kept_index_dirs']} index dirs "
          f"({scratch['kept_index_bytes']} bytes); left over {scratch['leftover_dirs']} other dirs "
          f"({scratch['leftover_bytes']} bytes)")

    if args.trace:
        layers = result["layers"]
        print(f"# tracing overhead: traced run_s {result['traced_run_s']:.4f} s vs "
              f"untraced {result['run_s']:.4f} s "
              f"({100 * (result['traced_run_s'] / result['run_s'] - 1):+.1f}%)")
        for k, v in sorted(layers.items()):
            print(f"{k:>36} {v:14.6f}")
        metrics = {
            m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in spec["per_layer"]
        }
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]} for m in spec["end_to_end"]}
    correct = failed == 0 and not result["check_failures"]
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
