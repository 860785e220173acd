"""PLANS.md lockstep (VERDICT r8 item 1): the committed plan dump must
match a fresh render at HEAD, so a plan-affecting commit that forgets
`tools/dump_plans.py` goes red instead of silently drifting (round 8:
commit 66406af changed g_triangle_counts' df-cap literal 250→64 and
claimed a re-dump that never landed — PLANS.md carried the stale 250
for the rest of the round).

Runs dump_plans --check in a SUBPROCESS: the dump session is pinned at
cpus=4 and Exchange nodes print their partition counts, and at a 4g heap
and 64 MiB Tungsten pages, which set the broadcast sizes it prints, so
rendering inside the shared test session (different cpus/shuffle
partitions/heap) would diff on configuration, not plans.
"""

from __future__ import annotations

import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_plans_md_is_current_at_head():
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "dump_plans.py"), "--check"],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=570,
    )
    assert proc.returncode == 0, (
        "PLANS.md is stale — run `python tools/dump_plans.py` and commit.\n"
        + proc.stderr[-2000:]
    )


def test_normalize_strips_volatile_ids_only():
    """The ID normalization must equate same-plan dumps from different
    sessions (IDs shift with analyzer history) while still seeing a
    REAL literal change — the exact round-8 drift (df <= 250 vs 64)
    must not be normalized away."""
    from tools.dump_plans import normalize

    a = "Condition : ((df#2248L >= 2) AND (df#2248L <= 64)) [plan_id=17]"
    b = "Condition : ((df#9001L >= 2) AND (df#9001L <= 64)) [plan_id=3]"
    stale = "Condition : ((df#2248L >= 2) AND (df#2248L <= 250)) [plan_id=17]"
    assert normalize(a) == normalize(b)
    assert normalize(a) != normalize(stale)
    scan = "Arguments: [doc_id#9128L], MapPartitionsRDD[{}] at applySchemaToPythonRDD"
    assert normalize(scan.format(141)) == normalize(scan.format(7))


_STAGE_RENDER = """\
+- BroadcastQueryStage (30), Statistics(sizeInBytes=65.0 MiB, rowCount=2.70E+4)
   +- BroadcastExchange (29)
      +- * HashAggregate (26)
{extra}         +- Scan parquet  (7)

(7) Scan parquet
Location: InMemoryFileIndex [file:{root}/.scratch/keyed-minhash-index-v3-58b008484fa9c814]

(26) HashAggregate [codegen id : {c}]
Input [2]: [shingle#9964, count#10104L]

(30) BroadcastQueryStage
Output [1]: [shingle#9964]
Arguments: {s}

(31) *({c}) Project
"""


def test_normalize_equates_stage_ids_and_checkout_path():
    """Codegen ids, query-stage ids and the checkout's location vary
    between renders of one plan (concurrently materialized sibling
    stages swap ids; a clone lives elsewhere) and must compare equal;
    one extra Exchange is a real plan change and must not."""
    from tools.dump_plans import normalize

    base = dict(c=3, s=6, root="/srv/a/repo", extra="")
    swapped = dict(base, c=4, s=7, root="/home/b/clone")
    exchange = dict(base, extra="         +- Exchange (27)\n")
    assert normalize(_STAGE_RENDER.format(**base)) == normalize(_STAGE_RENDER.format(**swapped))
    assert normalize(_STAGE_RENDER.format(**base)) != normalize(_STAGE_RENDER.format(**exchange))
