"""Shared executed-plan scanners for the round-7 Catalyst-rewrite
hazard class (VERDICT r7 item 1).

Two rewrites can silently clone an expensive expression into a
per-element or per-row evaluation context:

1. **Fold inlined into a lambda body** (CollapseProject): a single-use
   alias holding a fold (``aggregate``/``reduce``) gets substituted
   into its consumer; if the consumer is a higher-order-function
   lambda, the fold re-evaluates per ELEMENT — Θ(d²) per row (the
   ``normalized()`` finding, functions/vector.py:54).
2. **Fold inlined into a Filter condition** (predicate pushdown): a
   trailing ``filter(fold_output.isNotNull())`` is pushed below the
   projection and the pushed Filter inlines the whole fold; with a
   full-input reference inside the lambda that's Θ(n²) per row (the
   ``mm_neardup`` finding, operators/multimodal.py:267). The fix
   pattern is a cheap row-level PRE-filter (``octet_length >= 4``,
   ``size(tokens(text)) > 0``) before the fold.

These scanners work on ``executedPlan().toString()`` so they see the
plan AFTER every rewrite — the only place the hazard is visible.
"""

from __future__ import annotations

import re

#: expression names that evaluate a whole-array fold per invocation —
#: the expensive class that must never be cloned into a per-element or
#: per-row re-evaluation context. (``transform``/``filter`` HOFs are
#: per-element by design and fine to nest.)
FOLD_FUNCS = ("aggregate(", "reduce(")


def _bind_exempt_starts(plan: str) -> set[int]:
    """Start offsets (just past ``lambdafunction(``) of lambdas that
    are the direct lambda of ``transform(array(...), lambdafunction(``
    — the ``exprs.bind`` let-binding idiom. An ``array(...)`` LITERAL
    collection has fixed arity (bind uses exactly 1 element), so the
    body evaluates a CONSTANT number of times per row regardless of
    any data dimension — expensive expressions and folds over row
    columns inside such a body are once-per-row by construction, which
    is precisely what bind exists to guarantee. (A bind nested inside
    ANOTHER lambda body is still caught: the OUTER body's scan sees
    the expensive expressions textually inside the bind's argument and
    body spans.)"""
    starts = set()
    for m in re.finditer(r"transform\(array\(", plan):
        depth, j = 1, m.end()
        balanced = False
        for j in range(m.end(), len(plan)):
            c = plan[j]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    balanced = True
                    break
            elif c == "\n":
                break  # truncated print — treat as no match
        prefix = ", lambdafunction("
        if balanced and plan.startswith(prefix, j + 1):
            starts.add(j + 1 + len(prefix))
    return starts


def _lambda_bodies_with_pos(plan: str) -> list[tuple[int, str]]:
    """(start offset, body) for every ``lambdafunction(...)`` BODY (its
    first, balanced-paren argument) in an executed-plan string. Regexes
    can't balance parens, so each body is scanned explicitly.

    A body never spans lines in tree output, so the scan also stops at
    a newline: scan-node metadata strings are TRUNCATED at
    ``spark.sql.maxMetadataStringLength`` (``...`` mid-expression on
    ``FileScan``/``InMemoryTableScan`` lines), and an unbalanced
    truncated body would otherwise swallow the rest of the plan —
    turning every later ``aggregate(`` in unrelated operators into a
    false positive. Expressions that matter (Project/Filter operator
    lines) print in full; only scan metadata truncates, and post-scan
    predicates always also appear as full ``Filter`` operator
    lines."""
    bodies = []
    for m in re.finditer(r"lambdafunction\(", plan):
        depth, start = 1, m.end()
        j = start
        for j in range(start, len(plan)):
            c = plan[j]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    break
            elif c == "," and depth == 1:
                break
            elif c == "\n":
                break  # truncated print — body cannot really span lines
        bodies.append((start, plan[start:j]))
    return bodies


def lambda_bodies(plan: str, skip_bind: bool = False) -> list[str]:
    """Every lambda body in the plan; with ``skip_bind=True`` the
    direct bodies of the ``exprs.bind`` idiom (constant-arity
    ``transform(array(...), ...)``) are omitted — they run a constant
    number of times per row, so per-element hazards don't apply."""
    exempt = _bind_exempt_starts(plan) if skip_bind else set()
    return [b for pos, b in _lambda_bodies_with_pos(plan) if pos not in exempt]


def folds_in_lambda_bodies(plan: str) -> list[str]:
    """Lambda bodies containing a fold — hazard shape 1. A fold as a
    HOF *argument* (e.g. ``array_repeat(sqrt(aggregate(...)), n)``
    feeding ``zip_with``) is fine: arguments evaluate once per row;
    only the BODY re-evaluates per element. Bodies of the
    ``exprs.bind`` idiom are exempt (once per row by construction —
    binding a fold's result is the canonical fix, not a hazard)."""
    return [
        b for b in lambda_bodies(plan, skip_bind=True) if any(f in b for f in FOLD_FUNCS)
    ]


#: length-proportional string/array functions: applied to a row COLUMN
#: inside a lambda body they re-run per element — Θ(T²) per row (the
#: round-8 shingle finding: split+trim-filter re-ran per shingle
#: position, 85× at T=1000). Applied to a lambda VARIABLE they are
#: per-element by design and fine. The array REDUCTION and HOF rows
#: were added after the dimension ladder (tools/axis_ladder.py) caught
#: ``array_max(transform(uv, abs))`` inlined into the int8 quantize
#: lambda — a fold in everything but name, invisible to FOLD_FUNCS
#: (Θ(d²) per row, ×2.4 on the d×16 rung). ``exprs.bind`` bodies are
#: exempt (see :func:`_bind_exempt_starts`) — a bound HOF over a row
#: column is the FIX for this class, not an instance of it.
EXPENSIVE_FUNCS = (
    "split(",
    "hex(",
    "unhex(",
    "md5(",
    "sha1(",
    "sha2(",
    "crc32(",
    "regexp_extract(",
    "regexp_extract_all(",
    "regexp_replace(",
    "regexp_count(",
    "sentences(",
    "unbase64(",
    "base64(",
    "translate(",
    "lower(",
    "upper(",
    "reverse(",
    "sort_array(",
    "array_sort(",
    "array_distinct(",
    # whole-array reductions — the int8 finding's class
    "array_max(",
    "array_min(",
    "array_position(",
    "array_contains(",
    "arrays_overlap(",
    "array_union(",
    "array_intersect(",
    "array_except(",
    "array_join(",
    "flatten(",
    # higher-order functions over a row column re-traverse it per
    # outer element; sequence() allocates its whole output per call
    "transform(",
    "filter(",
    "exists(",
    "forall(",
    "zip_with(",
    "sequence(",
)

#: printed lambda variables (``lambda x_1#447``) — their #N attribute
#: refs are O(1) reads, not re-evaluations
_LAMBDA_VAR = re.compile(r"lambda \w+#\d+")
_COLUMN_ATTR = re.compile(r"\w+#\d+")


def expensive_exprs_in_lambda_bodies(plan: str) -> list[str]:
    """Lambda bodies where a length-proportional function is applied
    over a row COLUMN attribute (hazard: re-evaluated per element).
    Detection per occurrence: take the function's balanced-paren
    argument span, erase every lambda-variable token, and flag if a
    ``name#N`` attribute reference remains — i.e. the expensive call
    consumes row data, not (only) lambda variables. The fix is
    ``exprs.bind``: evaluate once per row, pass as a lambda var —
    accordingly, bind bodies themselves are exempt (constant arity)."""
    bad = []
    for b in lambda_bodies(plan, skip_bind=True):
        for f in EXPENSIVE_FUNCS:
            for m in re.finditer(re.escape(f), b):
                depth, start = 1, m.end()
                j = start
                for j in range(start, len(b)):
                    c = b[j]
                    if c == "(":
                        depth += 1
                    elif c == ")":
                        depth -= 1
                        if depth == 0:
                            break
                span = _LAMBDA_VAR.sub("", b[start:j])
                if _COLUMN_ATTR.search(span):
                    bad.append(b[max(0, m.start() - 40) : j + 1])
    return bad


def folds_under_null_checks_in_filters(plan: str) -> list[str]:
    """Executed-plan ``Filter`` lines where a fold sits under a
    NULL-check (``isnotnull``/``isnull``) — hazard shape 2, the
    bd1afd1 form: ``filter(fold_output.isNotNull())`` pushed below the
    projection re-evaluates the whole fold just to test null-ness,
    and the inline clones any referenced alias into the fold's lambda
    (the Θ(bytes²) ladder finding). Null-ness of a fold output is
    always decidable from row-level properties of its inputs, so the
    cheap pre-filter equivalent ALWAYS exists — this shape is never
    necessary.

    A fold appearing in a Filter condition as the PREDICATE itself
    (e.g. the x9 quality gate's ``aggregate(array_sort(tokens)) ≤
    threshold`` — Gopher top-token dominance) is NOT flagged: it is
    the query's semantics, evaluated once per row, same cost as in a
    Project — there is nowhere cheaper for it to run. (Folds inside
    lambda BODIES are flagged everywhere, Filter lines included, by
    :func:`folds_in_lambda_bodies`.)

    Executed plans print one operator per line (``+- Filter (cond)``);
    parquet ``PushedFilters:`` lists can't carry folds and the
    word-boundary match skips them."""
    bad = []
    for line in plan.splitlines():
        if not re.search(r"(?:^|[^A-Za-z])Filter ", line):
            continue
        for m in re.finditer(r"(?:isnotnull|isnull)\(", line):
            depth, start = 1, m.end()
            j = start
            for j in range(start, len(line)):
                c = line[j]
                if c == "(":
                    depth += 1
                elif c == ")":
                    depth -= 1
                    if depth == 0:
                        break
            span = line[start:j]
            if any(f in span for f in FOLD_FUNCS):
                bad.append(line.strip())
                break
    return bad


#: aggregates whose PARTIAL state is large (a value buffer or sketch,
#: not a counter): mixed into the same Aggregate as a DISTINCT
#: aggregate, Spark's distinct rewrite computes their partials keyed
#: by (group, distinct-column) — one buffer per distinct PAIR instead
#: of per group (the round-8 x8_approx_aggs finding: 6 percentile
#: buffers per (priority, custkey), ~100k merges instead of 5 —
#: 4.7× of the suite's then-most-expensive query).
BUFFER_AGGS = (
    "percentile(",
    "percentile_approx(",
    "approx_percentile(",
    "median(",
    "mode(",
    "hll_sketch_agg(",
    "hll_union_agg(",
    "collect_list(",
    "collect_set(",
    "array_agg(",
)

_DISTINCT_CALL = re.compile(r"\w+\(distinct ")


def distinct_mixed_with_buffer_aggs(analyzed_plan: str) -> list[str]:
    """ANALYZED-plan Aggregate lines containing BOTH a distinct
    aggregate (``count(distinct x#1)`` — the modifier survives only in
    the analyzed plan; RewriteDistinctAggregates erases it) and a
    buffer-heavy aggregate. Fix pattern: split into two single-level
    aggregations and equi-join on the grouping key (operators/approx.py
    x8_approx_aggs / x8_hll_merge). approx_count_distinct is NOT a
    distinct aggregate (no rewrite) and doesn't trigger this."""
    bad = []
    for line in analyzed_plan.splitlines():
        if "Aggregate [" not in line:
            continue
        if _DISTINCT_CALL.search(line) and any(f in line for f in BUFFER_AGGS):
            bad.append(line.strip()[:300])
    return bad
