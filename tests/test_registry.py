"""Catalog invariants promised by registry.py's module docstring."""

from __future__ import annotations

import pytest

from odoo_batch_processing_spark import registry
from odoo_batch_processing_spark.registry import CORE, CORE_CAP, all_oracles, all_queries


def test_core_tier_fits_driver_window():
    core = all_queries()
    assert len(core) <= CORE_CAP, (
        f"core tier has {len(core)} entries; the driver's correctness run "
        f"records only the first {CORE_CAP} — every family must fit inside"
    )


def test_every_oracle_has_a_query_both_tiers():
    for extended in (False, True):
        q, o = all_queries(extended), all_oracles(extended)
        assert set(o) <= set(q)


def test_operator_families_all_in_core():
    """One driver-visible row per operator family — the round-1 gap
    (8 families landed past the 50-entry window) must not reopen."""
    core = set(all_queries())
    # any-of per family, so registry.CORE can swap a family's
    # representative without reopening the gap
    families = {
        "analytics": {"q01_pricing_summary", "q03_top_orders",
                      "q09_profit_by_nation_year", "q05_revenue_by_nation"},
        "bulk_update": {"r07_broadcast_update"},
        "dedup": {"x3_neardup_survivors", "x3_minhash_lsh"},
        "similarity": {"x4_cosine_topk", "x4_ivf_trained_topk",
                       "x4_ivf_indexed_multiprobe"},
        "text": {"x5_text_features", "x5_bm25_topk", "x5_gopher_repetition"},
        "curation": {"x9_curation_pipeline", "x9_weighted_sample",
                     "x9_difficulty_deciles"},
        "jsonops": {"x6_json_grouped", "x6_variant_shred"},
        "windows": {"x7_sessionize", "w_interval_sweep", "w_rolling_median5"},
        "approx": {"x8_approx_aggs", "x8_hll_merge"},
        "setops": {"set_ops_chain"},
        "skew": {"skew_salted_agg"},
        "grouped": {"grouped_pandas_ranks"},
        "multimodal": {"mm_decode_features"},
        "sinks": {"r21_merge"},
        "streaming": {"s_r17_progress"},
        # pit_tier_at_purchase (scd.py) is the same as-of-join shape
        # over the SCD2 history
        "asof": {"asof_last_purchase", "pit_tier_at_purchase"},
        # first-ever driver rows for these two (round 14)
        "graph": {"g_pagerank_simgraph"},
        # the statistical and the rule-based halves of profiling/DQ
        "profile": {"profile_checksum", "profile_robust_outliers",
                    "dq_expectations"},
        # first-ever driver rows for these two families (round 17)
        "layout": {"lake_compact_roundtrip"},
        "src_formats": {"src_jsonl_roundtrip", "src_csv_roundtrip",
                        "src_orc_roundtrip"},
        # first-ever driver row for the IVM subsystem (round 16)
        "ivm": {"ivm_refresh"},
    }
    missing = {f: qs for f, qs in families.items() if not (qs & core)}
    assert not missing, f"families without a core-tier query: {missing}"


def test_extended_tier_superset_of_core():
    core, ext = all_queries(), all_queries(extended=True)
    assert set(core) <= set(ext)
    assert len(ext) > len(core)


def test_core_tier_is_core_in_order():
    # a name listed twice in CORE would collapse in the dict and fail here
    assert list(all_queries()) == list(CORE)


def test_undefined_core_name_raises(monkeypatch):
    monkeypatch.setattr(registry, "CORE", CORE + ("no_such_query",))
    with pytest.raises(ValueError, match="no_such_query"):
        all_queries()


def test_missing_module_fails_loudly(monkeypatch):
    absent = "odoo_batch_processing_spark.operators.no_such_module"
    monkeypatch.setattr(registry, "_MODULES", registry._MODULES + (absent,))
    with pytest.raises(ModuleNotFoundError, match="no_such_module"):
        all_queries(extended=True)
