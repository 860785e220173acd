"""Pin the bench calibration plan.

``calibration_sec`` in BENCH_LAST.json is the host-speed yardstick
that the bench pre-flight judges against its recorded healthy-window
reference (``bench.HEALTHY_WINDOW``). The reference is only meaningful
if the calibration plan NEVER changes — these tests freeze it, so an
accidental edit to bench.calibration_df (or a Spark upgrade that
changes what the same code plans to) fails loudly instead of silently
re-basing the yardstick.
"""

from __future__ import annotations

import re

from tests.conftest import SF_SMOKE

#: the frozen fingerprint: analyzed logical plan with expression IDs
#: normalized. Do NOT update this constant to make the test pass — if
#: it no longer matches, the calibration yardstick changed and every
#: calibration_sec reading against the recorded reference is broken;
#: revert the plan.
CALIBRATION_ANALYZED = (
    "Aggregate [l_returnflag#N], [l_returnflag#N, count(1) AS n#N, "
    "sum(l_quantity#N) AS sq#N]\n"
    "+- Relation [l_orderkey#N,l_partkey#N,l_suppkey#N,l_linenumber#N,"
    "l_quantity#N,l_extendedprice#N,l_discount#N,l_tax#N,l_returnflag#N,"
    "l_linestatus#N,l_shipdate#N] parquet\n"
)


def _normalized_analyzed(df) -> str:
    s = df._jdf.queryExecution().analyzed().toString()
    return re.sub(r"#\d+L?", "#N", s)


def test_calibration_plan_is_frozen(spark):
    from bench import calibration_df

    assert _normalized_analyzed(calibration_df(spark, SF_SMOKE)) == CALIBRATION_ANALYZED


def test_calibration_physical_shape(spark):
    """The physical properties the yardstick's cost model rests on:
    partial+final hash aggregation (two HashAggregate passes around
    one exchange) and a column-pruned parquet scan reading ONLY
    (l_quantity, l_returnflag) — if either regressed, calibration_sec
    would measure a different machine profile (IO-bound vs CPU-bound)
    than the one its reference was taken on."""
    from bench import calibration_df

    plan = (
        calibration_df(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("HashAggregate") == 2, plan
    assert "ReadSchema: struct<l_quantity:double,l_returnflag:string>" in plan, plan
