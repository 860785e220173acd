"""Zero-row robustness: every major pipeline must run (and return an
empty, correctly-typed relation) on an empty corpus. At 100 TB this is
the everyday case of a filter/partition-pruning step leaving zero rows
for a downstream operator — an engine that throws on empty input
cannot be composed."""

from __future__ import annotations

import os

import pytest

from odoo_batch_processing_spark.schemas import SCHEMAS, TABLE_NAMES


@pytest.fixture(scope="module")
def empty_sf_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("empty-sf"))
    for name in TABLE_NAMES:
        spark.createDataFrame([], SCHEMAS[name]).write.mode("overwrite").parquet(
            os.path.join(d, f"{name}.parquet")
        )
    return d


# one representative per family: star agg, positional update, dedup
# survivors (LSH -> verify -> CC), similarity top-k, curation pipeline,
# text features, JSON/VARIANT, windows, approx sketches
EMPTY_SAFE = [
    "q05_revenue_by_nation",
    "r09_zip_join_update",
    "x2_dedup_survivors",
    "x3_neardup_survivors",
    "x3_minhash_lsh",
    "x4_cosine_topk",
    "x9_curation_pipeline",
    "x5_text_features",
    "x6_json_grouped",
    "x7_sliding_windows",
    "x8_approx_aggs",
    # standing-index path: build + probe must survive a zero-row
    # corpus (empty partitioned index dir, explicit-schema read-back)
    "x3_incremental_neardup",
    # round-4 session additions: repetition/boilerplate/doc-sim (all
    # driver-scalar n_docs=0 paths), two-pass Misra–Gries (empty
    # summaries), per-key grid synthesis, empty-graph PageRank,
    # lead-window transitions
    "x5_gopher_repetition",
    "x5_boilerplate_ngrams",
    "x5_doc_sim_cosine",
    "x8_heavy_hitters",
    "w_gap_fill_ffill",
    "g_pagerank_simgraph",
    "x7_event_transitions",
    # round-16 promotions + new op: additive-state merge over an empty
    # delta/base, SCD2 as-of probe with no purchases, bounded-frame
    # median over no events, standing-IVF probe with an empty index,
    # surprisal banding with n_docs=0, bigram LM with no pairs
    "ivm_refresh",
    "pit_tier_at_purchase",
    "w_rolling_median5",
    "x9_difficulty_deciles",
    "x5_bigram_surprisal",
    # round-17 new ops: trigram backoff (empty train half AND empty
    # score set), two-stage rerank (empty candidate shortlist),
    # compaction rewrite (explicit-schema read of an empty layout)
    "x5_trigram_backoff_surprisal",
    "x4_rerank_exact",
    "lake_compact_roundtrip",
]


def test_zorder_write_empty(spark, empty_sf_dir, tmp_path):
    """Layout writer on a filters-to-zero relation: writes the empty
    relation instead of crashing in the normalizer."""
    from odoo_batch_processing_spark.sources.layout import zorder_write
    from odoo_batch_processing_spark.sources.loader import load_table

    li = load_table(spark, empty_sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    out = str(tmp_path / "z-empty")
    zorder_write(li, ("l_partkey", "l_suppkey"), out)
    assert spark.read.parquet(out).count() == 0


@pytest.mark.parametrize("name", EMPTY_SAFE)
def test_query_survives_empty_corpus(spark, empty_sf_dir, name):
    from odoo_batch_processing_spark.registry import all_queries

    df = all_queries(extended=True)[name](spark, empty_sf_dir)
    # must execute without raising; aggregates may legitimately return
    # a single all-NULL/zero row, everything else returns no rows
    assert df.count() <= 1
    assert len(df.columns) >= 1


@pytest.mark.parametrize(
    "name",
    [
        "x4_ivf_indexed_multiprobe",
        "x4_ivf_trained_topk",
        "x4_ivf_trained_recall",
    ],
)
def test_ivf_index_paths_empty_corpus(spark, empty_sf_dir, name):
    """r16's one known crash, fixed in r17: the standing-IVF index
    read-back now uses the explicit IVF_INDEX_SCHEMA (the dedup
    index_schema pattern), so a zero-row corpus — an empty partitioned
    index dir with no data files — probes to an empty result instead
    of raising UNABLE_TO_INFER_SCHEMA. Covers every query that reads
    a cached write-time index, including the trained (k-means) chain."""
    from odoo_batch_processing_spark.registry import all_queries

    df = all_queries(extended=True)[name](spark, empty_sf_dir)
    # recall rows aggregate to at most one all-null/zero row
    assert df.count() <= 1
    assert len(df.columns) >= 1
