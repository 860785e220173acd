#!/usr/bin/env python
"""Memory-pressure (SPILL) ladder: certify graceful degradation when
execution memory is scarce — the "spill-aware" posture the brief
demands that no other axis touches.

Every certified axis so far varies DATA or LAYOUT under a roomy heap;
at 100 TB the opposite case is routine: a shuffle whose per-partition
working set exceeds executor memory must SPILL (ExternalSorter /
ExternalAppendOnlyMap paths) and keep producing exact results at a
bounded slowdown — not OOM, not silently wrong. This ladder holds the
workload constant (an 8× replication of sf0.1 lineitem, ~4.8M rows,
staged once) and shrinks the JVM heap across rungs (8g → 2g → 512m),
driving per-task execution memory from "everything fits" to "must
spill". Each rung's session takes ``get_spark``'s core count
(``SPARK_GRAFT_CPUS``, else the host's cores) and records it.

Workloads — one per spill machine:

* ``agg``  — ``groupBy(l_orderkey).agg(sum, count)`` (~1.5M groups):
  hash-aggregate spill (ExternalAppendOnlyMap / Tungsten hash map
  fallback-to-sort path);
* ``sort`` — global ``ORDER BY (l_orderkey, l_linenumber)``:
  ExternalSorter spill.

Each rung runs in a FRESH subprocess (``--rung``) because
``spark.driver.memory`` / ``spark.memory.fraction`` are build-time
confs; the parent aggregates one JSON line per rung. Spill receipts
come from the Spark UI REST API (``/api/v1/.../stages``), enabled
only inside the rung subprocess: summed ``memoryBytesSpilled`` /
``diskBytesSpilled`` prove the axis actually ENGAGED rather than the
heap never feeling pressure.

Certification rules (exit 1 on violation):

* **exactness under spill**: each workload's result receipt is
  identical on every rung — spilling must never change results. The
  agg receipt is ``count + bit_xor(xxhash64(*))`` (order-insensitive,
  correct for a set-semantics result); the sort receipt is an
  order-SENSITIVE positional polynomial digest of the sorted
  output's KEY SEQUENCE (unique for a correct sort even with
  duplicate keys — a transposed pair of unequal keys changes it,
  tie permutations don't, matching what ``orderBy`` promises) plus
  an order-insensitive multiset hash of the full output rows (the
  output is a permutation of the corpus) — see ``_ordered_digest``
  (ADVICE r12; tie-scope lesson round 13);
* **engagement**: the bottom rung records ``diskBytesSpilled > 0``
  for at least one workload — otherwise the ladder never created
  pressure and certifies nothing (``ladder_invalid``);
* **grace**: no rung fails (an OOM is the opposite of graceful), and
  bottom-rung wall ≤ GRACE_RATIO (8×) × top-rung wall per workload —
  spilling is allowed to cost, cliffs and crashes are not.

    python tools/scale_spill.py            # full ladder (subprocesses)
    python tools/scale_spill.py --rung 2g  # one rung (internal)

Writes SCALE_SPILL.json; exit 1 if flagged.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

#: heap rungs, roomy → starved. At 512m total heap the ~0.13g
#: execution pool shared by the concurrent tasks leaves each far less
#: than its shuffle partition's working set — measured to engage both
#: spill machines at 4 and at 8 cores, while 1g still fit everything.
RUNGS = ("8g", "2g", "512m")
MULT = 8
#: the staged corpus is always this many files, whatever the core
#: count, so its ``staged_once`` key names one layout
CORPUS_FILES = 8
GRACE_RATIO = 8.0


def _stage_corpus(spark, sf_dir: str) -> str:
    """8× lineitem, staged once (content-keyed). Plain replication —
    the spill machines don't care about FK consistency, only volume;
    l_orderkey is shifted per replica so the agg's group count scales
    with the data instead of deepening per-group state."""
    from pyspark.sql import functions as F

    from odoo_batch_processing_spark.sources.sinks import staged_once

    src = os.path.join(sf_dir, "lineitem.parquet")

    def _build(d):
        li = spark.read.parquet(src)
        shift = (li.agg(F.max("l_orderkey")).collect()[0][0] or 0) + 1
        reps = [
            li.withColumn(
                "l_orderkey", F.col("l_orderkey") + F.lit(i * shift)
            )
            for i in range(MULT)
        ]
        out = reps[0]
        for r in reps[1:]:
            out = out.unionByName(r)
        out.repartition(CORPUS_FILES).write.mode("overwrite").parquet(d)

    return staged_once(f"spill-lineitem-{MULT}x", src, _build)


def _hash_drain(df) -> tuple[int, int]:
    """count + order-insensitive value hash over every column (same
    forcing aggregate as bench.drain, hash surfaced for cross-process
    comparison)."""
    from pyspark.sql import functions as F

    df = df.toDF(*[f"_c{i}" for i in range(len(df.columns))])
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*df.columns)).alias("h"),
    ).collect()[0]
    return row["n"], row["h"]


#: polynomial-hash base/modulus for the order-sensitive sort receipt
#: (any 61-bit prime modulus works; fixed so digests compare across
#: rungs and rounds)
_POLY_A = 1_000_003
_POLY_M = (1 << 61) - 1


def _ordered_digest(df_sorted, key_cols: list[str]) -> tuple[int, str]:
    """Order-SENSITIVE receipt for the sort workload (ADVICE r12: the
    old receipt hashed the INPUT corpus order-insensitively — invariant
    across rungs by construction, and blind to a wrong sort order).

    Two components, together certifying exactly what ``orderBy``
    promises and nothing it doesn't:

    * **key-sequence digest** — ``xxhash64`` over the SORT KEYS only,
      in output order (projection preserves the sorted order), folded
      per partition by an Arrow-batched ``mapInPandas`` into a
      polynomial rolling hash ``d = (d·A + h) mod M``; per-partition
      digests combine positionally on the driver via
      ``digest(AB) = digest(A)·A^len(B) + digest(B)``, so the global
      digest is independent of WHERE the range partitioner put its
      boundaries and depends only on the global key sequence. For a
      correct sort the key sequence is the sorted multiset of keys —
      UNIQUE even with duplicate keys — so any out-of-order pair of
      UNEQUAL keys changes the digest, while tie permutations don't.
      (Round-13 lesson, the hard way: the first version digested full
      rows and asserted rung-identity — the 512m rung's spill-merge
      legitimately interleaves EQUAL keys differently, and the
      synthetic lineitem has ~945k duplicate (l_orderkey,
      l_linenumber) pairs, so the receipt flagged a tie permutation
      ``orderBy`` never promised to pin. Detecting it proved the
      digest order-sensitive; scoping to the key sequence makes the
      claim match the contract.)
    * **row multiset hash** — order-insensitive ``bit_xor(xxhash64)``
      over every column of the SORTED OUTPUT (not the input): the
      output is a permutation of the corpus — no row dropped,
      duplicated, or corrupted by the spill path.

    Untimed verification pass; at most ``shuffle_partitions`` rows
    reach the driver."""
    from pyspark.sql import functions as F

    n_multi, multiset = _hash_drain(df_sorted)
    df = df_sorted.toDF(*[f"_c{i}" for i in range(len(df_sorted.columns))])
    keyed = [f"_c{df_sorted.columns.index(c)}" for c in key_cols]
    hashed = df.select(F.xxhash64(*keyed).alias("h"))

    def fold(batches):
        import pandas as pd
        from pyspark import TaskContext

        d, n = 0, 0
        for b in batches:
            for h in b["h"].to_numpy():
                d = (d * _POLY_A + (int(h) & _POLY_M)) % _POLY_M
            n += len(b)
        yield pd.DataFrame(
            {"pid": [TaskContext.get().partitionId()], "n": [n], "d": [str(d)]}
        )

    parts = sorted(
        hashed.mapInPandas(fold, "pid int, n long, d string").collect(),
        key=lambda r: r["pid"],
    )
    g, total = 0, 0
    for r in parts:
        g = (g * pow(_POLY_A, r["n"], _POLY_M) + int(r["d"])) % _POLY_M
        total += r["n"]
    if total != n_multi:
        raise RuntimeError(f"digest passes disagree on rows: {total} != {n_multi}")
    return total, f"keyseq:{g}/rows:{multiset}"


def _workloads(spark, corpus: str):
    """name → (shuffle_partitions, builder). Partition counts are per
    workload but CONSTANT across rungs, so rung-to-rung comparisons
    hold: agg runs at one partition per core (spills via per-task
    hash-map pressure); sort runs at 2 — full-width rows at 8
    partitions (~85 MB/task) still fit even the 512m rung's
    borrowable execution pool (measured), so the sort ladder narrows
    to 2 range partitions (~340 MB/task) to guarantee the
    ExternalSorter path engages."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(corpus)
    return {
        # mode "drain": the hash-forcing aggregate is the executor
        "agg": (
            spark.sparkContext.defaultParallelism,
            "drain",
            lambda: li.groupBy("l_orderkey").agg(
                F.sum("l_quantity").alias("sq"),
                F.count(F.lit(1)).alias("n"),
            ),
        ),
        # mode "noop-write": a sort under the drain's aggregate is
        # ELIMINATED by Catalyst (EliminateSorts — the same vacuous-
        # drain class round 8 fixed for projections; caught here when
        # the 2-partition 512m rung still showed zero spill). A noop
        # v2 write preserves and executes the global sort; the
        # identity receipt for this mode is the corpus hash (order-
        # insensitive, computed outside the timed region).
        "sort": (2, "noop-write", lambda: li.orderBy("l_orderkey", "l_linenumber")),
    }


def _spill_totals(spark) -> dict:
    """Sum spill bytes over completed stages via the UI REST API (the
    task-metric aggregates PySpark does not expose directly)."""
    import urllib.request

    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{ui}/api/v1/applications/{app}/stages") as r:
        stages = json.load(r)
    return {
        "memoryBytesSpilled": sum(s.get("memoryBytesSpilled", 0) for s in stages),
        "diskBytesSpilled": sum(s.get("diskBytesSpilled", 0) for s in stages),
    }


def run_rung(mem: str, sf_dir: str, reps: int) -> dict:
    from odoo_batch_processing_spark.session import get_spark

    spark = get_spark(
        f"scale-spill-{mem}",
        extra_confs={
            "spark.driver.memory": mem,
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            # keep result collection cheap so driver heap pressure
            # stays on the EXECUTION side being laddered
            "spark.driver.maxResultSize": "256m",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    corpus = _stage_corpus(spark, sf_dir)
    out = {"mem": mem, "cpus": spark.sparkContext.defaultParallelism, "workloads": {}}
    for name, (parts, mode, build) in _workloads(spark, corpus).items():
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        if mode == "noop-write":
            # order-SENSITIVE identity receipt, outside the timed
            # region: key-sequence digest + output multiset hash of
            # the SORTED OUTPUT (ADVICE r12 — the input-corpus hash
            # was rung-invariant by construction and could not catch
            # a wrong sort order; tie-scope note in _ordered_digest)
            n, h = _ordered_digest(build(), ["l_orderkey", "l_linenumber"])
        spill_before = _spill_totals(spark)
        best = None
        for _ in range(reps):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            if mode == "noop-write":
                build().write.format("noop").mode("overwrite").save()
            else:
                n, h = _hash_drain(build())
            sec = time.perf_counter() - t0
            best = sec if best is None or sec < best else best
        spill_after = _spill_totals(spark)
        out["workloads"][name] = {
            "sec": round(best, 2),
            "rows": n,
            "hash": h,
            "memoryBytesSpilled": spill_after["memoryBytesSpilled"]
            - spill_before["memoryBytesSpilled"],
            "diskBytesSpilled": spill_after["diskBytesSpilled"]
            - spill_before["diskBytesSpilled"],
        }
    return out


def judge(rungs: list[dict]) -> list[str]:
    """Certification rules from the module docstring; pure."""
    flags = []
    names = sorted({w for r in rungs for w in r.get("workloads", {})})
    for w in names:
        entries = [r.get("workloads", {}).get(w) for r in rungs]
        if any(e is None or e.get("rows") is None for e in entries):
            flags.append(f"{w}:rung_failed")
            continue
        if len({(e["rows"], e["hash"]) for e in entries}) != 1:
            flags.append(f"{w}:results_differ_under_spill")
        if entries[-1]["sec"] > GRACE_RATIO * max(entries[0]["sec"], 0.01):
            flags.append(f"{w}:degradation_not_graceful")
    bottom = rungs[-1].get("workloads", {})
    if not bottom or all(
        e.get("diskBytesSpilled", 0) == 0 for e in bottom.values()
    ):
        flags.append("ladder_invalid:no_spill_at_bottom_rung")
    return flags


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--rung", default=None, help="internal: run one heap rung")
    args = ap.parse_args()

    if args.rung:
        print(json.dumps(run_rung(args.rung, args.sf_dir, args.reps)))
        return 0

    rungs = []
    for mem in RUNGS:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--rung", mem,
             "--sf-dir", args.sf_dir, "--reps", str(args.reps)],
            capture_output=True, text=True, cwd=REPO_ROOT, timeout=1200,
        )
        line = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
        try:
            rung = json.loads(line)
        except (json.JSONDecodeError, IndexError):
            rung = {"mem": mem, "workloads": {}, "error": proc.stderr[-2000:]}
        rungs.append(rung)
        for w, e in rung.get("workloads", {}).items():
            print(
                f"[{mem:3s} {w:4s}] {e['sec']:6.2f}s rows={e['rows']} "
                f"spill_mem={e['memoryBytesSpilled'] / 1e6:.0f}MB "
                f"spill_disk={e['diskBytesSpilled'] / 1e6:.0f}MB",
                file=sys.stderr,
            )
        if "error" in rung:
            print(f"[{mem}] RUNG FAILED: {rung['error'][:400]}", file=sys.stderr)

    flags = judge(rungs)
    payload = {
        "metric": "scale_spill",
        "sf_dir": args.sf_dir,
        "mult": MULT,
        # the core count the rung sessions ran with (each rung records its own)
        "cpus": next((r["cpus"] for r in rungs if "cpus" in r), None),
        "rungs_mem": list(RUNGS),
        "reps": args.reps,
        "grace_ratio": GRACE_RATIO,
        "rungs": rungs,
        "flagged": flags,
    }
    line = json.dumps(payload, separators=(",", ":"))
    with open(os.path.join(REPO_ROOT, "SCALE_SPILL.json"), "w") as fh:
        fh.write(line + "\n")
    print(line)
    return 1 if flags else 0


if __name__ == "__main__":
    raise SystemExit(main())
