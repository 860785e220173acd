"""Partition-count invariance: results must not depend on
``spark.sql.shuffle.partitions``.

This certifies the engine's determinism discipline end-to-end — the
literal-boundary ordinals (round 6: `spark_partition_id` after a range
repartition silently changes with exchange reuse), full-row xxhash64
salts, decimal money sums, and pure-arithmetic sampling all exist so
that partition LAYOUT can never leak into VALUES. The spot-check runs
the value-visible families (positional ordinals, salted aggs, sampled
mixes, float top-k, pandas-grouped ranks, window cumsums) at the test
default (4) and a prime partition count (13), and requires exactly
equal row sets. A failure here means a nondeterminism bug of the
round-4/round-6 class has been reintroduced.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE

#: one per value-visible mechanism, not one per query — each name is
#: the family member whose VALUES are most exposed to partition layout
INVARIANCE_QUERIES = (
    "r09_zip_join_update",  # positional zip-join ordinal
    "r10_limit",  # ordered top-N + bounded-rows ordinal
    "skew_salted_agg",  # full-row-hash salt, two-phase agg
    "grouped_pandas_ranks",  # applyInPandas group boundaries
    "x3_minhash_lsh",  # capped band self-join pair set
    "x4_cosine_topk",  # float scores + tie-broken top-k
    "x9_source_mix",  # deterministic arithmetic sampling
    "x9_pack_shards",  # prefix-sum shard packing
    "x7_sessionize",  # window lag/cumsum session ids
    "x8_approx_aggs",  # sketch aggregates under the hash gate
    # queries that sit or have sat in the driver window: each gets a
    # direct invariance row rather than riding a mechanism cousin
    "g_pagerank_simgraph",  # fixed-point iterative rank over capped graph
    "x4_ivf_trained_topk",  # seeded k-means train + IVF probe top-k
    "x5_bm25_topk",  # float-scored top-k with boundary ties
    "x9_weighted_sample",  # weighted deterministic sampling
    "x8_hll_merge",  # partial-sketch merge under tolerance booleans
    "x3_containment",  # capped shingle self-join containment pairs
    "w_interval_sweep",  # interval boundary-event cumsum
    "profile_checksum",  # order/partition-invariant table checksum
    # s_r22_manifest_counts is EXCLUDED here by design: its
    # _with_stream_shuffle wrapper pins the stream's shuffle count
    # internally, so an outer conf change never reaches it — its
    # determinism receipt is the exact-count oracle at three SFs.
    "x3_minhash_indexed",  # capped band pairs via the v3 standing index
    "g_triangle_counts",  # capped postings self-join triangle counts
    "x4_int8_topk",  # int8-quantized scores + tie-broken top-k
    "x5_unigram_surprisal",  # corpus LM probs + float mean per doc
    "x9_group_sample",  # per-group deterministic stratified sample
    "x6_variant_shred",  # variant extraction + grouped aggregates
    "w_gap_fill_ffill",  # calendar scaffold + last-value forward fill
    "scd2_user_tiers",  # window-versioned type-2 history build
    # (s_x3_stream_incremental_neardup is stream-shuffle-pinned like
    # s_r22_manifest_counts — its receipt is the exact oracle at
    # three SFs plus the end-to-end restart test)
    "ivm_refresh",  # additive-state merge vs full recompute
    "pit_tier_at_purchase",  # SCD2 history + as-of probe composition
    "w_rolling_median5",  # bounded-frame percentile with float output
    "x4_ivf_indexed_multiprobe",  # standing-IVF-index nprobe top-k
    "x5_gopher_repetition",  # dup-line/paragraph fractions + ngram share
    "x7_event_transitions",  # lead-window transition matrix
    "x9_difficulty_deciles",  # surprisal-ranked curriculum bucketing
    # bigram LM, float mean per doc
    "x5_bigram_surprisal",
    "x9_crypto_shred",  # key-join erasure + surviving-rows aggregate
    "x7_funnel_steps",  # ordered event-sequence step matching
    "agg_grouping_sets",  # multi-grain rollup with grouping ids
    "sql_recursive_hierarchy",  # iterative CTE hierarchy walk
    "dq_expectations",  # rule-based expectation pass/fail counts
    "profile_robust_outliers",  # median/MAD per-type outlier counts
    "lake_compact_roundtrip",  # listing->plan->rewrite lossless agg
    "src_jsonl_roundtrip",  # schema-on-read JSONL interchange agg
    "x5_trigram_backoff_surprisal",  # backoff LM, float mean per doc
    "x4_rerank_exact",  # int8 shortlist + exact re-rank top-k
)


def _rows(df):
    # None-safe total order: NULL grouping keys (GROUPING SETS rollup
    # rows) sort before any value of their column's type
    def key(row):
        return tuple((v is not None, v) for v in row)

    return sorted((tuple(r) for r in df.collect()), key=key)


@pytest.mark.parametrize("name", INVARIANCE_QUERIES)
def test_partition_count_invariant(spark, name):
    from odoo_batch_processing_spark.registry import all_queries
    from odoo_batch_processing_spark.session import release_materialized

    def run(q):
        # drop materialize_once pins and cached relations between runs:
        # the CacheManager plan-matches via sameResult, so without this
        # the 13-partition run would silently read intermediates cached
        # under the 4-partition layout — certifying nothing (and the
        # pins would outlive the test, breaking session.py's lifetime
        # contract for the rest of the pytest session)
        release_materialized()
        spark.catalog.clearCache()
        try:
            return _rows(q(spark, SF_SMOKE))
        finally:
            release_materialized()
            spark.catalog.clearCache()

    q = all_queries(extended=True)[name]
    baseline = run(q)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "13")
        reshuffled = run(q)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert reshuffled == baseline
