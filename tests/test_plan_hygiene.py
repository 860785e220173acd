"""Plan hygiene over the WHOLE query catalog: no accidental
nested-loop/cartesian joins, scans carry pushed filters where the
query filters a scanned column, and every batch row keeps the plan
shape pinned in tests/plan_shapes.json. Physical plans only: no query
runs, though some rows pin a relation or build a keyed index while
they are constructed, so the sweep is cheap and runs on every build.

This is the codified form of the engine rule: '.explain every
operator until it's the plan you'd want' — regressions (a join
condition typo turning an equi-join into BNLJ, a cast blocking
pushdown) fail here, not in a 100 TB run.
"""

from __future__ import annotations

import json

import pytest

from tests.conftest import SF_SMOKE
from tools import dump_plans

#: streaming queries execute on invocation (they run a bounded stream);
#: the batch sweep below covers everything else.
_SKIP_PREFIXES = ("s_",)
#: sink/source roundtrip queries write on plan construction: planned
#: once, by the executed_plans fixture, and kept out of the two
#: sweeps that re-plan the catalog.
_SKIP = {"r21_sink_roundtrip", "r21_merge", "src_jsonl_roundtrip", "src_csv_roundtrip"}
#: queries where a nested-loop join is the INTENDED plan:
#: - brute-force ANN has no equi-key — a deliberate
#:   broadcast(query-batch) × corpus scan (similarity.py docstring);
#:   the IVF index probe is the keyed, hash-joined scale path.
#: - q22/q11/q15's scalar-subquery (one-row aggregate relation)
#:   cross-joins by construction; a BNLJ whose build side is exactly
#:   ONE row is free at any scale.
#: - x4_kmeans_cells cross-joins the k-row (k=8, fixed) centroid
#:   table per iteration — bounded by construction, like the 1-row
#:   scalar aggregates.
_ALLOWED_NESTED_LOOP = {
    "x4_cosine_topk",
    "q22_inactive_customers",
    "q11_important_parts",
    "q15_top_supplier",
    "x4_kmeans_cells",
    # composes x4_cosine_topk with x4_ivf_trained_topk — inherits the
    # same two allow-listed bounded broadcasts (5-row query batch,
    # k-row centroid table)
    "x4_ivf_trained_recall",
    # the new-batch threshold is a ONE-row aggregate (same free scalar
    # shape as q22/q11/q15)
    "x3_incremental_neardup",
    "x3_incremental_embedding_neardup",
    # trains via the same bounded k-row centroid cross-join as
    # x4_kmeans_cells, then probes with a bounded query batch
    "x4_ivf_trained_topk",
    # same deliberate broadcast(5-row query batch) BNLJ as
    # x4_cosine_topk, over the quantized relation
    "x4_int8_topk",
    # stage 1 IS the x4_int8_topk scan (same bounded-batch BNLJ);
    # stage 2's joins are equi (broadcast hash) on the M·|Q|-row
    # shortlist — bounded by construction, not by SF
    "x4_rerank_exact",
    # N_train rides as a ONE-row aggregate — the same free scalar
    # shape as x5_unigram_surprisal
    "x5_trigram_backoff_surprisal",
    # corpus totals (N tokens / N docs + avgdl) ride as ONE-row
    # aggregates — the same free scalar shape as q22/q11/q15
    "x5_unigram_surprisal",
    "x5_bm25_topk",
    # composes x5_unigram_surprisal — inherits its 1-row total join
    "x9_difficulty_deciles",
    # global sketch-union estimate + exact global distinct are ONE-row
    # aggregates cross-joined onto the (event-type-bounded) per-part rows
    "x8_hll_merge",
    # exact T, shared-edge pair count k, and the sampled estimate are
    # each ONE-row aggregates cross-joined for the est_ok expression —
    # the same free scalar shape as x8_hll_merge
    "g_doulion_triangles",
}


def _batch_queries():
    from odoo_batch_processing_spark.registry import all_queries

    # hygiene applies to the WHOLE catalog, extended tier included
    return {
        name: fn
        for name, fn in all_queries(extended=True).items()
        if not name.startswith(_SKIP_PREFIXES) and name not in _SKIP
    }


@pytest.fixture(scope="module")
def executed_plans(spark):
    """One executed-plan string per batch-catalog query, computed once
    and shared by every plan-shape sweep in this module — planning the
    ~160-query catalog is the expensive part, so the sweeps must not
    each redo it. Each row is planned as if alone, so the plans do
    not depend on which tests ran before."""
    prior = spark.conf.getAll.get(dump_plans.META_LEN)
    yield dump_plans.executed_plans(spark, SF_SMOKE)
    assert spark.conf.getAll.get(dump_plans.META_LEN) == prior


def test_every_batch_plan_keeps_its_pinned_shape(executed_plans):
    """Every batch row's plan shape matches tests/plan_shapes.json, and
    the file names exactly the batch catalog. A deliberate plan change
    reruns tools/dump_plans.py and commits the file; the failure prints
    each differing row's shape for review."""
    with open(dump_plans.SHAPES_PATH) as f:
        pinned = json.load(f)
    have = {name: dump_plans.digest(plan) for name, plan in executed_plans.items()}
    changed = sorted(n for n in have.keys() & pinned.keys() if have[n] != pinned[n])
    assert have.keys() == pinned.keys() and not changed, (
        "plan shapes differ from tests/plan_shapes.json (rerun "
        "tools/dump_plans.py if the change is meant): "
        f"unpinned {sorted(have.keys() - pinned.keys())}, "
        f"gone {sorted(pinned.keys() - have.keys())}, changed {changed}\n\n"
        + "\n\n".join(f"## {n}\n{dump_plans.shape(executed_plans[n])}" for n in changed)
    )


def test_shape_drops_session_history_only():
    """Two sessions plan one query with different expression, plan and
    RDD ids, and Spark's distinct-aggregate rewrite numbers its gid
    groups by expression id: the shapes are equal. A changed literal
    (round 8's df <= 250 against df <= 64) is a real plan change."""
    shape = dump_plans.shape
    cap = (
        "Filter ((isnotnull(df#{i}L) AND (df#{i}L >= 2)) AND (df#{i}L <= {cap}))\n"
        "+- Exchange hashpartitioning(df#{i}L, 4), ENSURE_REQUIREMENTS, [plan_id={p}]\n"
        "   +- Scan ExistingRDD[doc_id#{i}L,df#{i}L]"
    )
    a = cap.format(i=2248, p=17, cap=64)
    assert shape(a) == shape(cap.format(i=9001, p=3, cap=64))
    assert shape(a) != shape(cap.format(i=2248, p=17, cap=250))
    rdd = "+- Scan ExistingRDD[doc_id#9128L]\n   +- MapPartitionsRDD[{}] at applySchemaToPythonRDD"
    assert shape(rdd.format(141)) == shape(rdd.format(7))
    # x8_exact_distinct in two sessions: gid 1 and 2 swap columns
    distinct = (
        "+- HashAggregate(keys=[l_returnflag#22071], functions=["
        "partial_count(l_partkey#22091L) FILTER (WHERE (gid#22090 = {a})), "
        "partial_count(l_suppkey#22092L) FILTER (WHERE (gid#22090 = {b}))])\n"
        "   +- Expand [[l_returnflag#22071, l_partkey#22064L, null, {a}], "
        "[l_returnflag#22071, null, l_suppkey#22065L, {b}]]"
    )
    assert shape(distinct.format(a=1, b=2)) == shape(distinct.format(a=2, b=1))


_STAGE_PLAN = """\
+- *({c}) Project [shingle#9964]
   +- BroadcastQueryStage {s}
      +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, string, true]),false), [plan_id=412]
{extra}         +- *({c}) HashAggregate(keys=[shingle#9964], functions=[count(1)])
            +- FileScan parquet [shingle#9964] Location: InMemoryFileIndex(1 paths)[file:{root}/.scratch/keyed-minhash-index-v3-58b008484fa9c814]
"""


def test_shape_equates_stage_ids_and_checkout_path():
    """Codegen ids, query-stage ids and the checkout's location vary
    between plans of one query (concurrently materialized sibling
    stages swap ids; a clone lives elsewhere) and compare equal; one
    extra Exchange is a real plan change and does not."""
    shape = dump_plans.shape
    base = dict(c=3, s=6, root="/srv/a/repo", extra="")
    swapped = dict(base, c=4, s=7, root="/home/b/clone")
    exchange = dict(
        base, extra="         +- Exchange hashpartitioning(shingle#9964, 4), ENSURE_REQUIREMENTS\n"
    )
    assert shape(_STAGE_PLAN.format(**base)) == shape(_STAGE_PLAN.format(**swapped))
    assert shape(_STAGE_PLAN.format(**base)) != shape(_STAGE_PLAN.format(**exchange))


def test_no_nested_loop_or_cartesian_anywhere(executed_plans):
    offenders = {}
    for name, plan in executed_plans.items():
        if name in _ALLOWED_NESTED_LOOP:
            continue
        bad = [
            marker
            for marker in ("BroadcastNestedLoopJoin", "CartesianProduct")
            if marker in plan
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, f"non-scalable join strategies in: {offenders}"


def test_no_fold_cloned_into_lambda_or_filter_anywhere(executed_plans):
    """Catalog-wide invariant for the round-7 Catalyst-rewrite hazard
    class (VERDICT r7 item 1): nowhere in any query's EXECUTED plan may
    a fold (``aggregate``/``reduce``) appear (a) inside a
    ``lambdafunction`` body — CollapseProject's Θ(d²)-per-row inline
    (the ``normalized()`` finding) — or (b) under a NULL-check in a
    ``Filter`` condition — predicate pushdown's clone of a post-filter
    on fold output (the ``mm_neardup`` finding; a cheap row-level
    pre-filter always exists for null-ness). Shape (b) is deliberately
    NARROWER than "any fold in any Filter": a fold that IS the
    predicate (x9's Gopher top-token gate, ``aggregate(...) ≤ 0.25``)
    runs once per row wherever it lives and is legitimate — see
    plan_scan.folds_under_null_checks_in_filters. The two original
    sites carry instance tests pinning their fixed shapes
    (tests/test_similarity_multimodal.py); this sweep makes the rule
    hold for every FUTURE query too. Fix pattern when this fires:
    pre-filter on a cheap row-level equivalent before the fold, or
    route a scalar into the lambda through a per-row argument position
    (``array_repeat``) — see SURVEY.md §7.4."""
    from tests.plan_scan import (
        folds_in_lambda_bodies,
        folds_under_null_checks_in_filters,
    )

    offenders = {}
    for name, plan in executed_plans.items():
        in_lambda = folds_in_lambda_bodies(plan)
        in_filter = folds_under_null_checks_in_filters(plan)
        if in_lambda or in_filter:
            offenders[name] = {
                "lambda_bodies": in_lambda[:2],
                "filter_null_checks": in_filter[:2],
            }
    assert not offenders, f"folds cloned into per-element/per-row context: {offenders}"


def test_no_expensive_column_expr_in_lambda_bodies_anywhere(executed_plans):
    """Catalog-wide invariant for the round-8 hazard (the Θ(T²)
    shingle finding): no length-proportional function (split/regexp/
    hash/case-fold/array-sort — plan_scan.EXPENSIVE_FUNCS) may consume
    a row COLUMN inside a lambda body. Python-side composition embeds
    a copy of the referenced Column expression at every site and HOF
    evaluation re-runs bodies per element with no subexpression
    elimination — ``slice(tokens(text), i, n)`` re-tokenized per
    shingle position, 85× at 1 000-token docs (SCALE.md round 8).
    Fix pattern: ``exprs.bind`` — evaluate once per row, reference as
    a lambda variable."""
    from tests.plan_scan import expensive_exprs_in_lambda_bodies

    offenders = {
        name: found[:3]
        for name, plan in executed_plans.items()
        if (found := expensive_exprs_in_lambda_bodies(plan))
    }
    assert not offenders, f"per-element re-evaluation of row expressions: {offenders}"


def test_expensive_expr_scanner_flags_round8_shape():
    """Self-check: the scanner must flag the pre-fix shingle shape
    (split over a column inside the position lambda) and pass the
    bound form (lambda variable only) plus per-element-by-design uses
    (hash of the lambda variable itself)."""
    from tests.plan_scan import expensive_exprs_in_lambda_bodies

    pre_fix = (
        "transform(sequence(1, (size(filter(split(text#5908,  , -1), "
        "lambdafunction(NOT (trim(lambda x_18#5917, None) = ), "
        "lambda x_18#5917, false)), false) - 2)), "
        "lambdafunction(concat_ws( , slice(filter(split(text#5908,  , -1), "
        "lambdafunction(NOT (trim(lambda x_18#5917, None) = ), "
        "lambda x_18#5917, false)), lambda x_19#5916, 3)), "
        "lambda x_19#5916, false))"
    )
    assert expensive_exprs_in_lambda_bodies(pre_fix)

    bound = (
        "element_at(transform(array(filter(split(text#5908,  , -1), "
        "lambdafunction(NOT (trim(lambda x_18#5917, None) = ), "
        "lambda x_18#5917, false))), lambdafunction(CASE WHEN "
        "(size(lambda tk#100, false) >= 3) THEN array_distinct("
        "transform(sequence(1, (size(lambda tk#100, false) - 2)), "
        "lambdafunction(concat_ws( , slice(lambda tk#100, "
        "lambda i#101, 3)), lambda i#101, false))) ELSE [] END, "
        "lambda tk#100, false)), 1)"
    )
    assert not expensive_exprs_in_lambda_bodies(bound)
    # per-element hashing of the lambda variable is by design
    per_element = (
        "transform(toks#12, lambdafunction(conv(substring(md5("
        "lambda t#31), 1, 15), 16, 10), lambda t#31, false))"
    )
    assert not expensive_exprs_in_lambda_bodies(per_element)


def test_expensive_expr_scanner_flags_int8_reduction_shape():
    """Self-check for the dimension-ladder finding (tools/axis_ladder.py):
    an array REDUCTION (``array_max(transform(col, abs))`` — a fold in
    everything but name, invisible to FOLD_FUNCS) referenced inside the
    quantize lambda re-evaluates per element, Θ(d²) per row. The
    scanner must flag the pre-fix shape and pass the bind() form —
    whose body contains a HOF over a row column BY DESIGN (the outer
    ``transform(array(mx), ...)`` has constant arity 1, so that body
    runs once per row; exempting it is what lets EXPENSIVE_FUNCS carry
    ``transform(`` at all)."""
    from tests.plan_scan import expensive_exprs_in_lambda_bodies

    pre_fix = (
        "transform(uv#13, lambdafunction(cast(least(127, greatest(-127, "
        "cast(FLOOR(((lambda x_9#18 * (127.0 / array_max(transform(uv#13, "
        "lambdafunction(abs(lambda x_8#20), lambda x_8#20, false))))) + 0.5)) "
        "as int))) as tinyint), lambda x_9#18, false))"
    )
    assert expensive_exprs_in_lambda_bodies(pre_fix)

    # the shipped fix: bind(mx, m -> transform(uv, x -> q(x, m)))
    bound = (
        "element_at(transform(array(array_max(transform(uv#13, "
        "lambdafunction(abs(lambda x_8#20), lambda x_8#20, false)))), "
        "lambdafunction(transform(uv#13, lambdafunction(cast(least(127, "
        "greatest(-127, cast(FLOOR(((lambda x_9#22 * (127.0 / "
        "lambda x_7#21)) + 0.5)) as int))) as tinyint), lambda x_9#22, "
        "false)), lambda x_7#21, false)), 1)"
    )
    assert not expensive_exprs_in_lambda_bodies(bound)


def test_fold_scanners_flag_both_round7_shapes():
    """Self-check: the shared scanners must flag BOTH original hazard
    shapes verbatim, or the catalog sweep above is vacuously green."""
    from tests.plan_scan import (
        folds_in_lambda_bodies,
        folds_under_null_checks_in_filters,
    )

    # (a) the pre-fix normalized() executed plan: norm fold
    # CollapseProject-inlined into the transform lambda (c5059eb)
    old_lambda_shape = (
        "Project [id#0L, transform(v#2, lambdafunction((lambda x#40 / "
        "SQRT(aggregate(zip_with(v#2, v#2, lambdafunction((lambda a#41 * "
        "lambda b#42), lambda a#41, lambda b#42, false)), 0.0, "
        "lambdafunction((lambda p#43 + lambda q#44), lambda p#43, "
        "lambda q#44, false), lambdafunction(lambda id#45, lambda id#45, "
        "false)))), lambda x#40, false)) AS uv#39]"
    )
    assert folds_in_lambda_bodies(old_lambda_shape)

    # (b) the pre-fix mm_neardup executed plan: the pushed Filter
    # inlining the whole simhash fold (bd1afd1)
    old_filter_shape = (
        "+- Filter isnotnull(aggregate(filter(transform(sequence(0, 9, 2), "
        "lambdafunction(substring(hx#29, knil, 8), lambda k#30, false)), "
        "lambdafunction((length(lambda t#31) = 8), lambda t#31, false)), "
        "cast(0 as bigint), lambdafunction((lambda a#32 + lambda b#33), "
        "lambda a#32, lambda b#33, false)))"
    )
    assert folds_under_null_checks_in_filters(old_filter_shape)

    # and the FIXED shapes must pass: fold as a per-row ARGUMENT
    # (array_repeat), a plain row-level pre-filter, and a fold that IS
    # the filter predicate (x9's top-token gate — legitimate)
    fixed = (
        "Project [zip_with(v#2, array_repeat(SQRT(aggregate(zip_with(v#2, "
        "v#2, lambdafunction((lambda a#1 * lambda b#2), lambda a#1, "
        "lambda b#2, false)), 0.0, lambdafunction((lambda p#3 + lambda "
        "q#4), lambda p#3, lambda q#4, false))), size(v#2)), "
        "lambdafunction((lambda x#5 / lambda n#6), lambda x#5, lambda n#6, "
        "false)) AS uv#7]\n"
        "+- Filter (isnotnull(text#1) AND ((cast(aggregate(array_sort("
        "toks#8), [,0,0], lambdafunction(struct(prev, lambda y#9, run, 1, "
        "best, 1), lambda x#10, lambda y#9, false)) as double) / 100.0) "
        "<= 0.25))"
    )
    assert not folds_in_lambda_bodies(fixed)
    assert not folds_under_null_checks_in_filters(fixed)


@pytest.mark.parametrize(
    ("name", "expect"),
    [
        ("q05_revenue_by_nation", "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate"),
        # plan strings truncate long filter lists at 100 chars — match a prefix
        ("q06_forecast_revenue", "GreaterThanOrEqual(l_shipda"),
        ("r02_visibility_filter", "EqualTo(o_orderstatus,O)"),
    ],
)
def test_filters_reach_the_scan(spark, name, expect):
    from odoo_batch_processing_spark.registry import all_queries

    plan = (
        all_queries(extended=True)[name](spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert expect in plan, f"{name}: filter not pushed to parquet scan"


#: queries allowed to carry a broadcast HINT on a relation derived
#: from an SF-scaling base table, because the hinted relation's
#: cardinality is bounded by construction:
#: - q22 broadcasts a ONE-row scalar aggregate (avg balance);
#: - x4_* broadcast the ANN query batch or the k-row centroid table,
#:   both filtered to a fixed small set (vec_id < N_QUERIES / < k,
#:   then one row per cell) before the hint.
_ALLOWED_HINTED = {
    "q22_inactive_customers",
    "x4_cosine_topk",
    "x4_ivf_indexed_multiprobe",  # same bounded query batch, exploded ×nprobe
    "x4_ivf_trained_topk",
    "x4_kmeans_cells",
    "x4_ivf_trained_recall",  # composes the two audited chains above
    "x4_int8_topk",  # same bounded query batch, int8-quantized
    # bounded hints only: the 5-row query batch (stage 1, as
    # x4_int8_topk) and the M·|Q|-row rerank shortlist (stage 2) —
    # both fixed-cardinality by construction, independent of SF
    "x4_rerank_exact",
}

#: queries allowed to carry a NON-broadcast strategy hint
#: (SHUFFLE_HASH / MERGE) — vetted build sides only (ADVICE r17 #3):
#: - pagerank's per-hop SHUFFLE_HASH builds from the |V|-row rank
#:   vector, uniformly hash(id)-partitioned by the previous hop's
#:   aggregate: the per-partition hash table is |V|/partitions rows of
#:   (id, double), bounded and skew-free by construction.
_ALLOWED_NONBROADCAST_HINTED = {
    "g_pagerank_simgraph",
}


def test_every_allow_listed_name_is_a_catalog_row():
    """An exemption outlives its row only by mistake: a name left in an
    allow-list after its row is deleted exempts nothing and reads as if
    the catalog still held it."""
    from odoo_batch_processing_spark.registry import all_queries

    catalog = set(all_queries(extended=True))
    lists = {
        "_SKIP": _SKIP,
        "_ALLOWED_NESTED_LOOP": _ALLOWED_NESTED_LOOP,
        "_ALLOWED_HINTED": _ALLOWED_HINTED,
        "_ALLOWED_NONBROADCAST_HINTED": _ALLOWED_NONBROADCAST_HINTED,
    }
    dead = {k: sorted(names - catalog) for k, names in lists.items() if names - catalog}
    assert not dead, f"allow-listed names with no catalog row: {dead}"


def _iter_jnodes(jnode):
    stack = [jnode]
    while stack:
        node = stack.pop()
        yield node
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))


def test_no_broadcast_hints_on_sf_scaling_relations(spark):
    """A broadcast *hint* is honored unconditionally — AQE cannot demote
    it — so a hint on any relation that grows with the scale factor is
    a guaranteed driver OOM at 100 TB. Only fixed-cardinality tables
    (schemas.BROADCAST_DIMS: region 5 rows, nation 25) may be hinted.

    Detection: walk each query's analyzed logical plan; for every
    ResolvedHint node, classify the hinted subtree's leaf relations by
    their column names (via schemas.SCHEMAS) and flag any leaf whose
    base table is not in BROADCAST_DIMS.
    """
    from odoo_batch_processing_spark.registry import all_queries
    from odoo_batch_processing_spark.schemas import BROADCAST_DIMS, SCHEMAS

    col_to_table = {
        field.name: table for table, schema in SCHEMAS.items() for field in schema.fields
    }
    offenders = {}
    for name, fn in sorted(_batch_queries().items()):
        if name in _ALLOWED_HINTED:
            continue
        analyzed = fn(spark, SF_SMOKE)._jdf.queryExecution().analyzed()
        bad_tables = set()
        for node in _iter_jnodes(analyzed):
            if node.nodeName() != "ResolvedHint":
                continue
            # only the BROADCAST strategy is the guaranteed-OOM class
            # this invariant guards (unconditional driver collect +
            # per-executor copy, AQE cannot demote it). SHUFFLE_HASH /
            # MERGE hints on scaling relations are legitimate
            # deliberate strategy picks (guide §3.1): no driver
            # collect, the build side is per-partition and scales with
            # the shuffle partition count — pagerank's rank-side
            # SHUFFLE_HASH (r17) is the first such use. They are still
            # ALLOWLISTED per query (ADVICE r17 #3), not exempted
            # blanket: a shuffle_hash hint whose build side is a
            # skew-heavy SF-scaling relation is the per-partition-OOM
            # class, and a new one must be argued here, not slipped in.
            if "strategy=broadcast" not in node.hints().toString():
                if name not in _ALLOWED_NONBROADCAST_HINTED:
                    bad_tables.add(
                        f"<non-broadcast strategy hint: "
                        f"{node.hints().toString()}>"
                    )
                continue
            for sub in _iter_jnodes(node):
                if sub.children().size() != 0:
                    continue
                out = sub.output()
                for i in range(out.size()):
                    table = col_to_table.get(out.apply(i).name())
                    if table is not None and table not in BROADCAST_DIMS:
                        bad_tables.add(table)
        if bad_tables:
            offenders[name] = sorted(bad_tables)
    assert not offenders, f"broadcast hints on SF-scaling relations: {offenders}"


def test_core_positional_queries_have_no_global_data_sort(spark):
    """Round-4 certification (VERDICT r3 #1): the driver-checked r09/r10
    ride the scale-safe ordinal — no global (single-partition) sort
    over row-bearing columns anywhere in the physical plan. The only
    unpartitioned sort distributed_ordinal plans is the n_parts-row
    offsets branch, which carries no data columns; ordered top-N must
    plan TakeOrderedAndProject (per-partition top-n), not a full sort."""
    import re

    from odoo_batch_processing_spark.registry import all_queries

    qs = all_queries()
    for name in ("r09_zip_join_update", "r10_limit"):
        plan = qs[name](spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
        global_data_sorts = re.findall(
            r"Sort \[[^\]]*(?:l_orderkey|l_linenumber|p_partkey)[^\]]*\], true", plan
        )
        assert not global_data_sorts, (
            f"{name}: global sort on the data path\n{plan[:3000]}"
        )
    top_n_plan = (
        qs["r10_limit"](spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in top_n_plan, top_n_plan[:2000]


def test_star_joins_broadcast(spark):
    # extended lookup: q05 is not in the core tier
    from odoo_batch_processing_spark.registry import all_queries

    plan = (
        all_queries(extended=True)["q05_revenue_by_nation"](spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("BroadcastHashJoin") == 4
    assert "SortMergeJoin" not in plan


@pytest.fixture(scope="module")
def analyzed_plans(spark):
    """Analyzed-plan strings (pre-optimizer) — the only place the
    ``distinct`` aggregate modifier is still visible."""
    return {
        name: fn(spark, SF_SMOKE)._jdf.queryExecution().analyzed().toString()
        for name, fn in sorted(_batch_queries().items())
    }


def test_no_distinct_mixed_with_buffer_aggs_anywhere(analyzed_plans):
    """Catalog-wide invariant for the round-8 distinct-mixing finding:
    a DISTINCT aggregate sharing an Aggregate with a buffer-heavy one
    (percentile/sketch/collect) makes the distinct rewrite build the
    heavy partial per (group, distinct-column) pair — |distinct pairs|
    buffers instead of |groups| (x8_approx_aggs: 6.9 s of which 4.7×
    was this shape; x8_hll_merge: a 4 KB HLL per user). Fix: split
    into two aggregations, equi-join on the group key."""
    from tests.plan_scan import distinct_mixed_with_buffer_aggs

    offenders = {
        name: found[:2]
        for name, plan in analyzed_plans.items()
        if (found := distinct_mixed_with_buffer_aggs(plan))
    }
    assert not offenders, f"distinct mixed with buffer-heavy aggs: {offenders}"


def test_distinct_mixing_scanner_flags_prefix_shape():
    """Self-check: the scanner must flag the pre-fix x8 shape and pass
    the split form plus approx_count_distinct (no rewrite)."""
    from tests.plan_scan import distinct_mixed_with_buffer_aggs

    pre_fix = (
        "Aggregate [o_orderpriority#5], [o_orderpriority#5, "
        "count(distinct o_custkey#1L) AS n_custs#13L, "
        "percentile(o_totalprice#3, 0.5, 1, 0, 0, false) AS p50#14]"
    )
    assert distinct_mixed_with_buffer_aggs(pre_fix)

    split = (
        "Aggregate [o_orderpriority#5], [o_orderpriority#5, "
        "percentile(o_totalprice#3, array(0.5, 0.9), 1, 0, 0, false) AS _pct#14]\n"
        "Aggregate [o_orderpriority#5], [o_orderpriority#5, "
        "count(distinct o_custkey#1L) AS n_custs#13L]"
    )
    assert not distinct_mixed_with_buffer_aggs(split)

    approx_ok = (
        "Aggregate [g#1], [g#1, approx_count_distinct(v#2L, 0.02) AS n#3L, "
        "percentile(v#2L, 0.5, 1, 0, 0, false) AS p#4]"
    )
    assert not distinct_mixed_with_buffer_aggs(approx_ok)
