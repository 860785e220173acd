#!/usr/bin/env python
"""Dump formatted physical plans for the headline queries → PLANS.md.

Evidence artifact for plan review: shows pushed filters, read schemas,
join strategies, and shuffle structure for the queries whose scale
behavior SCALE.md argues about.

``--check`` (VERDICT r8 item 1): re-render the same plans to a buffer
and diff against the committed PLANS.md after normalizing volatile IDs
(expression ``#NNNN``, ``plan_id=``, codegen and query-stage ids) and
the checkout's path, exiting 1 with the differing
section names on mismatch. The hygiene suite runs this, so a
plan-affecting commit that forgets the re-dump goes red instead of
silently drifting (round 8's lockstep break: commit 66406af changed
g_triangle_counts' df-cap literal 250→64 and claimed a re-dump that
never landed).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEADLINERS = [
    "q05_revenue_by_nation",
    "q01_pricing_summary",
    "q06_forecast_revenue",
    "q19_disjunctive",
    "r09_zip_join_update",
    "r10_limit",
    "x2_dedup_survivors",
    "x3_minhash_lsh",
    "x3_incremental_neardup",
    "x4_ivf_topk",
    "x4_ivf_multiprobe",
    "x4_int8_topk",
    "asof_last_purchase",
    "skew_salted_agg",
    "q08_market_share",
    "q21_waiting_suppliers",
    "x9_curation_pipeline",
    "x9_pack_shards",
    # round-4 session additions whose scale shape SCALE.md argues about
    "x5_doc_sim_cosine",
    "x8_heavy_hitters",
    "w_gap_fill_ffill",
    "g_triangle_counts",
    "w_interval_sweep",
    "x5_unigram_surprisal",
    "x5_bm25_topk",
    "profile_zscore",
    # round-8 re-shapes: top-tier cost under the forcing drain, their
    # split-distinct shape is a catalog invariant worth reviewing
    "x8_approx_aggs",
    "x8_hll_merge",
    # round-10 additions: the DOULION sampled-triangle twin (scan-local
    # hash sample + three 1-row scalar cross-joins) and the chunk-stitch
    # sessionizer (two window passes + summary stitch, no broadcast hint)
    "g_doulion_triangles",
    "x7_sessionize_chunked",
    # queries that sit or have sat in the driver window: their plan
    # shapes are review surface. The indexed-LSH plan is the
    # scan-local bucket_n receipt (PushedFilters, no count/semi-join)
    "x3_containment",
    "x3_neardup_survivors",
    "x4_ivf_trained_topk",
    "x9_weighted_sample",
    "g_pagerank_simgraph",
    "profile_checksum",
    "x3_minhash_indexed",
    "x9_group_sample",
    "x6_variant_shred",
    "scd2_user_tiers",
    "ivm_refresh",
    "x4_ivf_indexed_multiprobe",
    "x5_gopher_repetition",
    "w_rolling_median5",
    "x7_event_transitions",
    "pit_tier_at_purchase",
    "x9_difficulty_deciles",
    "x9_crypto_shred",
    "x7_funnel_steps",
    "agg_grouping_sets",
    "sql_recursive_hierarchy",
    "dq_expectations",
    "profile_robust_outliers",
    "lake_compact_roundtrip",
    "src_jsonl_roundtrip",
    # scale shape argued in SCALE.md
    "x5_trigram_backoff_surprisal",
    "x4_rerank_exact",
]

SF_DIR = "/root/testdata/sf0.1"
PLANS_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"
)


def render() -> str:
    """Render the PLANS.md content for the current HEAD (not normalized)."""
    from odoo_batch_processing_spark.registry import all_queries
    from odoo_batch_processing_spark.session import get_spark, release_materialized

    # pinned like the core count: a broadcast stage prints the size of
    # its hashed relation, which is a whole number of Tungsten pages,
    # and the default page size follows the heap (64 MiB at a 24g
    # heap, 32 MiB at 4g), so an unpinned render diffs on the host's
    # heap setting. The small heap also keeps this session from
    # crowding the one it runs beside under the hygiene suite.
    spark = get_spark(
        "dump-plans",
        cpus=4,
        extra_confs={"spark.driver.memory": "4g", "spark.buffer.pageSize": "64m"},
    )
    queries = all_queries(extended=True)
    out = [
        "# PLANS — physical plans of the headline queries (sf0.1, local)",
        "",
        "Generated by tools/dump_plans.py; regenerate after plan-affecting",
        "changes (tools/dump_plans.py --check enforces this in the hygiene",
        "suite). See SCALE.md for what each shape means at 100 TB.",
        "",
    ]
    for name in HEADLINERS:
        # each plan as the query gets it run alone, the way the harnesses
        # run it: no relation pinned by an earlier section, whose cache
        # entries Catalyst would otherwise substitute into this plan
        release_materialized()
        spark.catalog.clearCache()
        df = queries[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        out.append(f"## {name}\n\n```\n{plan.strip()}\n```\n")
    return "\n".join(out)


def normalize(text: str) -> str:
    """Strip the volatile bits of a formatted plan so two dumps of the
    SAME logical plan compare equal across sessions: expression IDs
    (``l_orderkey#1234L``), ``plan_id=`` tags, and ``[id=NN]`` exchange
    ids all depend on how many plans the session analyzed before this
    one — the same normalization family test_bench_calibration uses
    for its plan fingerprint."""
    text = re.sub(r"#\d+", "#N", text)
    text = re.sub(r"plan_id=\d+", "plan_id=N", text)
    text = re.sub(r"\[id=\d+\]", "[id=N]", text)
    # RDD ids of local relations (driver-side CC labels) count the
    # RDDs the session created before this plan
    text = re.sub(r"RDD\[\d+\]", "RDD[N]", text)
    # higher-order-function lambda variable names (`lambda x_59`) carry
    # a PROCESS-GLOBAL allocation counter: how many lambda expressions
    # were constructed before this one — which depends on module-level
    # expression caching and import order, not on the plan (r17: the
    # dedup expression cache shifted every later section's counters)
    text = re.sub(r"\b(lambda [a-z]+)_\d+", r"\1_N", text)
    # content keys of write-time indexes (keyed-<name>-<16hex>): the
    # key is mtime-derived, so the driver regenerating testdata each
    # round changes it without changing the plan shape (round 13)
    text = re.sub(r"(keyed-[a-z0-9-]+-)[0-9a-f]{16}", r"\1KEY", text)
    # fresh per-call scratch sinks (scratch_dir → mkdtemp): the random
    # suffix changes every render; the prefix (sink-json, ivm-base,
    # lake-compacted, ...) is the stable, reviewable part (round 17 —
    # the lake/src/ivm promotions put sink paths in pinned plans)
    text = re.sub(
        r"(\.scratch/(?!keyed-)[a-zA-Z0-9_.-]+-)[a-z0-9_]{8}\b", r"\1TMP", text
    )
    # where the checkout lives: .scratch sits inside it, so a clone
    # elsewhere renders the same plans under another prefix
    text = re.sub(r"file:[^\s\],]*/\.scratch/", "file:CHECKOUT/.scratch/", text)
    # whole-stage codegen ids and adaptive query-stage ids number stages
    # in the order they are planned and materialized; sibling stages
    # that materialize concurrently (g_pagerank_simgraph's two broadcast
    # stages over one cached relation) swap them between renders of the
    # same plan. The tree's `*` markers and node ids still show the
    # stage structure.
    text = re.sub(r"codegen id : \d+", "codegen id : N", text)
    text = re.sub(r"\*\(\d+\)", "*(N)", text)
    text = re.sub(
        r"(QueryStage\n(?:[^\n]+\n)*?Arguments: )\d+$", r"\1N", text, flags=re.M
    )
    return text


def _sections(text: str) -> dict[str, str]:
    parts = re.split(r"^## ", text, flags=re.M)
    return {p.split("\n", 1)[0].strip(): p for p in parts[1:]}


def main() -> int:
    check = "--check" in sys.argv[1:]
    content = render()
    if not check:
        with open(PLANS_PATH, "w") as f:
            f.write(content)
        print(f"wrote PLANS.md ({len(HEADLINERS)} plans)")
        return 0

    with open(PLANS_PATH) as f:
        committed = f.read()
    if normalize(committed) == normalize(content):
        print(f"PLANS.md is current ({len(HEADLINERS)} plans match at HEAD)")
        return 0
    want, have = _sections(normalize(content)), _sections(normalize(committed))
    stale = sorted(
        set(want) ^ set(have)
        | {n for n in set(want) & set(have) if want[n] != have[n]}
    )
    print(
        "PLANS.md is STALE — re-run tools/dump_plans.py and commit. "
        f"Differing sections: {stale}",
        file=sys.stderr,
    )
    return 1


if __name__ == "__main__":
    raise SystemExit(main())
