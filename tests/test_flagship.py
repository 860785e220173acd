"""M0: the flagship star query runs end-to-end and matches its oracle."""

from __future__ import annotations

from tests.conftest import SF_SMOKE


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"n_name", "revenue"}


def test_registry_consistency():
    from odoo_batch_processing_spark.registry import CORE_CAP, all_oracles, all_queries

    core_q, core_o = all_queries(), all_oracles()
    assert set(core_o) <= set(core_q)
    assert len(core_q) >= 1
    # the driver's correctness run records only the first CORE_CAP
    # entries — every core query must sit inside that window
    assert len(core_q) <= CORE_CAP, (
        f"core catalog has {len(core_q)} queries; driver checks only the first {CORE_CAP}"
    )
    ext_q, ext_o = all_queries(extended=True), all_oracles(extended=True)
    assert set(ext_o) <= set(ext_q)
    assert set(core_q) <= set(ext_q)


def test_analytics_match_oracle(spark, duck):
    from odoo_batch_processing_spark.oracle import compare
    from odoo_batch_processing_spark.plans import analytics
    from odoo_batch_processing_spark.registry import CORE

    for name in [n for n in CORE if n in analytics.QUERIES]:
        fn = analytics.QUERIES[name]
        result = compare(name, fn(spark, SF_SMOKE), duck, analytics.ORACLES[name])
        assert result.ok, str(result)
