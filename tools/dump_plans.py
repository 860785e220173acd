#!/usr/bin/env python
"""Pinned plan shapes of the batch catalog → tests/plan_shapes.json.

The engine's dataflow claims rest on plan shape: the positional
zip-join with no global sort, the broadcast constant update, the
predicate-filtered scan, and every extended row's join strategies and
shuffles. ``tests/test_plan_hygiene.py`` plans every batch row in its
session at sf0.001 and compares each plan's :func:`shape` digest with
the committed file, so a plan-affecting change that does not rewrite
the file fails there. A literal shows only where it reaches an
sf0.001 plan: the absolute df caps do not (the 5%-of-corpus term binds
first there), so ``tests/test_cap_witness.py`` plants the corpus on
which they bind.

A shape is the executed-plan tree with what the session's history
decides stripped: expression, plan and RDD ids, lambda-variable
counters, file locations (checkout path, scratch suffixes, index
keys), query-stage and codegen-stage numbers. Each line keeps its
depth, its operator and its sorted tokens, so literals, columns,
partition counts and join strategies stay; only within-line operand
order is dropped (Spark's distinct-aggregate rewrite numbers its
``gid`` groups by expression id).

    python tools/dump_plans.py    # rewrite tests/plan_shapes.json

It plans in a session built by ``tests/conftest.py``'s recipe.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SHAPES_PATH = os.path.join(REPO, "tests", "plan_shapes.json")

#: FileScan metadata (DataFilters, PushedFilters, ReadSchema) is cut at
#: this many characters, and ``#id`` digits count toward it, so the cut
#: moves with the session's history unless the limit is out of reach.
META_LEN = "spark.sql.maxMetadataStringLength"

_STRIP = [
    (re.compile(p), r)
    for p, r in (
        (r"#\d+L?", ""),
        (r", \[plan_id=\d+\]", ""),
        (r"RDD\[\d+\]", "RDD"),
        (r"\b(lambda [a-z]+)_\d+", r"\1"),
        (r"\[file:[^\]]*\]", ""),
        (r"QueryStage \d+", "QueryStage"),
        (r"\*\(\d+\)", "*"),
    )
]
_LINE = re.compile(r"([ :+-]*)(\** *\w*)(.*)")
_TOKEN = re.compile(r"[^\s,()\[\]{}]+")


def shape(plan: str) -> str:
    """The history-independent shape of an executed-plan string: one
    line per operator, as its depth, its name and its sorted tokens."""
    for pattern, repl in _STRIP:
        plan = pattern.sub(repl, plan)
    lines = []
    for line in plan.strip().splitlines():
        indent, op, rest = _LINE.match(line).groups()
        lines.append(" ".join([indent + op, *sorted(_TOKEN.findall(rest))]))
    return "\n".join(lines)


def digest(plan: str) -> str:
    return hashlib.sha256(shape(plan).encode()).hexdigest()[:16]


def executed_plans(spark, sf_dir: str) -> dict[str, str]:
    """Executed-plan string of every batch catalog row (streaming
    ``s_`` rows run a stream when called), each planned as if alone: no
    relation pinned or cached by an earlier row, which Catalyst would
    substitute into this plan. Plans without running; some rows pin a
    relation or build a keyed index while they are constructed. Leaves
    no pin and the metadata limit as it found them."""
    from odoo_batch_processing_spark.registry import all_queries
    from odoo_batch_processing_spark.session import release_materialized

    prior = spark.conf.getAll.get(META_LEN)
    spark.conf.set(META_LEN, str(2**31 - 1))
    plans = {}
    try:
        for name, fn in sorted(all_queries(extended=True).items()):
            if name.startswith("s_"):
                continue
            release_materialized()
            spark.catalog.clearCache()
            plans[name] = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    finally:
        release_materialized()
        if prior is None:
            spark.conf.unset(META_LEN)
        else:
            spark.conf.set(META_LEN, prior)
    return plans


def main() -> int:
    from tests.conftest import SF_SMOKE, session

    plans = executed_plans(session(), SF_SMOKE)
    with open(SHAPES_PATH, "w") as f:
        json.dump({n: digest(p) for n, p in plans.items()}, f, indent=0, sort_keys=True)
        f.write("\n")
    print(f"wrote {os.path.relpath(SHAPES_PATH, REPO)} ({len(plans)} plans)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
