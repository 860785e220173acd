"""Exact reference semantics for the R-operators (SURVEY.md §5
supplement): things the DuckDB oracle can't pin down because it only
proves SQL equivalence, not fidelity to the userscript's behavior."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import settle


@pytest.fixture(scope="module")
def listview(spark):
    from odoo_batch_processing_spark.sources.listview import make_listview

    return make_listview(spark, 200).cache()


# --- R13: checkbox coercion golden cases (user.js:586-587) -----------------
# 'true'/'TRUE' → True; 'True ' (trailing space, no trim) / 'yes' / '1' /
# '' / NULL → False. Intentionally different from cast('boolean').
R13_CASES = [
    ("true", True),
    ("TRUE", True),
    ("tRuE", True),
    ("True ", False),
    ("yes", False),
    ("1", False),
    ("", False),
    (None, False),
]


def test_r13_boolean_coercion_golden(spark):
    from odoo_batch_processing_spark.operators.bulk_update import coerce_checkbox_boolean

    df = spark.createDataFrame([(v,) for v, _ in R13_CASES], "raw string")
    got = {
        r["raw"]: r["coerced"]
        for r in df.select("raw", coerce_checkbox_boolean(F.col("raw")).alias("coerced")).collect()
    }
    for raw, expected in R13_CASES:
        assert got[raw] is expected, f"{raw!r}: got {got[raw]}, want {expected}"


def test_r13_differs_from_spark_cast(spark):
    # documents *why* we don't use cast('boolean'): 'yes'/'1' cast → true
    df = spark.createDataFrame([("yes",), ("1",)], "raw string")
    cast_vals = [r[0] for r in df.select(F.col("raw").cast("boolean")).collect()]
    assert cast_vals == [True, True]  # Spark cast semantics...
    from odoo_batch_processing_spark.operators.bulk_update import coerce_checkbox_boolean

    ours = [r[0] for r in df.select(coerce_checkbox_boolean(F.col("raw"))).collect()]
    assert ours == [False, False]  # ...reference semantics


# --- R14: parseInt + NaN reject + negative clamp (user.js:275-290) ---------
def test_r14_parse_clamp(spark):
    from odoo_batch_processing_spark.operators.bulk_update import parse_wait_time

    cases = [("400", 400), ("-3", 0), ("0", 0), ("2.9", 2), ("-2.9", 0), ("abc", None), (None, None)]
    df = spark.createDataFrame([(v,) for v, _ in cases], "raw string")
    got = {r["raw"]: r["w"] for r in df.select("raw", parse_wait_time(F.col("raw")).alias("w")).collect()}
    for raw, expected in cases:
        assert got[raw] == expected, f"{raw!r}: got {got[raw]}, want {expected}"


# --- R9: min-length truncation both directions (user.js:447-452) -----------
def test_r9_fewer_values_than_rows(spark, listview):
    from odoo_batch_processing_spark.operators.bulk_update import zip_join_update

    values = spark.createDataFrame([(i, f"v{i}") for i in range(5)], "ord int, v string")
    visible = F.col("visible")
    n_visible = listview.filter(visible).count()
    assert n_visible > 5
    out = zip_join_update(listview, ["row_ord"], "name", values, ["ord"], "v", visible=visible)
    rows = {r["row_ord"]: r["name"] for r in out.collect()}
    assert len(rows) == 200  # row-preserving: hidden rows retained too
    updated = [v for v in rows.values() if v.startswith("v")]
    assert sorted(updated) == ["v0", "v1", "v2", "v3", "v4"]  # exactly min(5, n)
    untouched = [v for v in rows.values() if v.startswith("rec_")]
    assert len(untouched) == 200 - 5  # the rest keep old values


def test_r9_more_values_than_rows(spark, listview):
    from odoo_batch_processing_spark.operators.bulk_update import zip_join_update

    n_visible = listview.filter(F.col("visible")).count()
    values = spark.createDataFrame(
        [(i, f"v{i}") for i in range(n_visible + 50)], "ord int, v string"
    )
    out = zip_join_update(listview, ["row_ord"], "name", values, ["ord"], "v", visible=F.col("visible"))
    rows = out.collect()
    assert len(rows) == 200  # row-preserving output
    got_value = [r for r in rows if r["name"].startswith("v")]
    assert len(got_value) == n_visible  # every visible row updated; surplus values dropped


def test_r9_assignment_is_positional(spark, listview):
    from odoo_batch_processing_spark.operators.bulk_update import zip_join_update

    values = spark.createDataFrame([(1, "first"), (2, "second")], "ord int, v string")
    out = zip_join_update(listview, ["row_ord"], "name", values, ["ord"], "v", visible=F.col("visible"))
    # the first two VISIBLE rows in table order receive the two values
    first_two = [
        r["row_id"]
        for r in listview.filter(F.col("visible")).orderBy("row_ord").limit(2).collect()
    ]
    by_id = {r["row_id"]: r["name"] for r in out.collect()}
    assert by_id[first_two[0]] == "first" and by_id[first_two[1]] == "second"


# --- R5: empty table → writable (user.js:169, 173) --------------------------
def test_r5_empty_table_is_writable(spark, listview):
    from odoo_batch_processing_spark.operators.bulk_update import column_is_readonly

    assert column_is_readonly(listview.filter(F.lit(False)), F.col("readonly")) is False
    assert column_is_readonly(listview, F.col("readonly")) is True  # fixture has ~10% readonly


# --- R7 + guards: only visible & editable & ~readonly rows change ----------
def test_r7_guarded_broadcast_update(listview):
    from odoo_batch_processing_spark.operators.bulk_update import broadcast_update

    out = broadcast_update(
        listview, "name", "CONSTANT",
        visible=F.col("visible"), editable=F.col("editable"), readonly=F.col("readonly"),
    )
    joined = out.alias("n").join(listview.alias("o"), "row_id").select(
        F.col("o.visible"), F.col("o.editable"), F.col("o.readonly"),
        F.col("n.name").alias("new"), F.col("o.name").alias("old"),
    )
    for r in joined.collect():
        should_change = r["visible"] and r["editable"] and not r["readonly"]
        assert (r["new"] == "CONSTANT") == should_change


def test_r9_guarded_rows_keep_value_but_consume_position(spark, listview):
    """Reference semantics (user.js:477-480): a readonly row inside the
    visible sequence keeps its old value, but the positional value it
    WOULD have received is consumed (the loop index advances) — not
    shifted to the next editable row."""
    from odoo_batch_processing_spark.operators.bulk_update import zip_join_update

    df = spark.createDataFrame(
        [(1, "a", False), (2, "b", True), (3, "c", False)],
        "ord bigint, val string, ro boolean",
    )
    values = spark.createDataFrame(
        [(1, "v1"), (2, "v2"), (3, "v3")], "vord int, v string"
    )
    out = {
        r["ord"]: r["val"]
        for r in zip_join_update(
            df, ["ord"], "val", values, ["vord"], "v", apply_when=~F.col("ro")
        ).collect()
    }
    assert out == {1: "v1", 2: "b", 3: "v3"}  # v2 consumed by the skipped row


def test_bulk_update_run_list_mode_respects_guards(spark):
    from odoo_batch_processing_spark.operators.bulk_update import bulk_update_run

    df = spark.createDataFrame(
        [
            (1, 11, True, True, False, "a", 0, True, 0),
            (2, 12, True, True, True, "b", 0, True, 0),   # readonly
            (3, 13, True, False, False, "c", 0, True, 0),  # not editable
            (4, 14, None, True, False, "d", 0, True, 0),   # NULL visibility
            (5, 15, True, True, False, "e", 0, True, 0),
        ],
        "row_ord bigint, row_id bigint, visible boolean, editable boolean, "
        "readonly boolean, name string, qty int, active boolean, partner_id bigint",
    )
    res = bulk_update_run(
        df, "name", ["X1", "X2", "X3", "X4"],
        order_cols=["row_ord"],
        visible=F.col("visible"), editable=F.col("editable"), readonly=F.col("readonly"),
        spark=spark,
    )
    rows = {r["row_id"]: r["name"] for r in res.updated.collect()}
    assert len(rows) == 5                       # NULL-visible row NOT dropped
    assert rows[11] == "X1"                     # applied
    assert rows[12] == "b" and rows[13] == "c"  # guards hold in list mode
    assert rows[14] == "d"                      # NULL visibility = hidden
    assert rows[15] == "X4"                     # position consumed by guarded rows
    # readonly/non-editable rows are SKIPPED (the reference's
    # `continue`, user.js:477-480), not counted as errors
    assert res.visible_rows == 4 and res.success_count == 2
    assert res.skipped_count == 2 and res.error_count == 0
    assert res.outcome == "success"


# --- EP1 composite: accounting matches the reference's run summary ---------
def test_bulk_update_run_accounting(spark, listview):
    from odoo_batch_processing_spark.operators.bulk_update import bulk_update_run

    res = bulk_update_run(
        listview, "name", "X",
        order_cols=["row_ord"],
        visible=F.col("visible"), editable=F.col("editable"), readonly=F.col("readonly"),
        spark=spark,
    )
    assert res.all_rows == 200
    assert res.visible_rows == listview.filter(F.col("visible")).count()
    assert res.success_count + res.skipped_count == res.visible_rows
    assert res.error_count == 0
    assert res.outcome in {"success", "nothing-updated"}
    n_const = res.updated.filter(F.col("name") == "X").count()
    assert n_const == res.success_count


def test_bulk_update_run_nothing_updated(spark, listview):
    """success==0 and error==0 → the reference's 'nothing updated'
    warning, not a spurious 'success' (ADVICE r01)."""
    from odoo_batch_processing_spark.operators.bulk_update import bulk_update_run

    res = bulk_update_run(
        listview, "name", "X",
        order_cols=["row_ord"],
        visible=F.lit(False),  # no visible rows at all
        editable=F.col("editable"), readonly=F.col("readonly"),
        spark=spark,
    )
    assert res.visible_rows == 0 and res.success_count == 0
    assert res.outcome == "nothing-updated"


def test_bulk_update_run_guard_on_updated_column(spark, listview):
    """Counts stay correct when the visibility predicate references the
    column being updated: the counts are observed on the pre-update
    rows."""
    from odoo_batch_processing_spark.operators.bulk_update import bulk_update_run

    # every name starts with 'rec_' pre-update; post-update successes
    # become 'X' and would fail this predicate if re-evaluated late
    res = bulk_update_run(
        listview, "name", "X",
        order_cols=["row_ord"],
        visible=F.col("name").startswith("rec_"),
        editable=F.col("editable"), readonly=F.col("readonly"),
        spark=spark,
    )
    assert res.visible_rows == 200
    assert res.success_count == res.updated.filter(F.col("name") == "X").count()
    assert res.success_count + res.skipped_count == 200


def test_bulk_update_run_multivalue(spark, listview):
    from odoo_batch_processing_spark.operators.bulk_update import bulk_update_run, parse_multiline

    blob = "alpha\n\n  \nbeta\ngamma"
    values = parse_multiline(blob)
    assert values == ["alpha", "beta", "gamma"]  # blank lines dropped, no trim of kept lines
    res = bulk_update_run(
        listview, "name", values,
        order_cols=["row_ord"],
        visible=F.col("visible"), editable=F.col("editable"), readonly=F.col("readonly"),
        spark=spark,
    )
    assert res.updated.count() == 200  # hidden rows retained
    changed = res.updated.filter(F.col("name").isin(values)).count()
    assert 0 < changed <= 3
    assert res.success_count == changed
    assert res.success_count + res.skipped_count == len(values)


def test_bulk_update_run_short_list_counts_reached_rows_only(spark):
    """A list shorter than the visible rows reaches only the first
    len(values) visible rows (user.js:451): guarded rows past that
    point are neither successes nor skips."""
    from odoo_batch_processing_spark.operators.bulk_update import bulk_update_run

    # 12 rows, row_ord 1..12: even rows hidden, every third row readonly
    rows = [
        (i, i % 2 == 1, True, i % 3 == 0, f"old{i}") for i in range(1, 13)
    ]
    df = spark.createDataFrame(
        rows, "row_ord bigint, visible boolean, editable boolean, readonly boolean, name string"
    )
    res = bulk_update_run(
        df, "name", ["A", "B", "C"],
        order_cols=["row_ord"],
        visible=F.col("visible"), editable=F.col("editable"), readonly=F.col("readonly"),
        spark=spark,
    )
    got = {r["row_ord"]: r["name"] for r in res.updated.collect()}
    # visible rows 1, 3, 5 receive A, B, C; row 3 is readonly
    assert got == {i: {1: "A", 5: "C"}.get(i, f"old{i}") for i in range(1, 13)}
    assert res.all_rows == 12 and res.visible_rows == 6
    assert (res.success_count, res.skipped_count) == (2, 1)
    assert res.success_count + res.skipped_count == min(3, res.visible_rows)
    assert res.outcome == "success"


def test_bulk_update_run_pin_is_released(spark):
    """The run pins its update in the session's registry, so
    release_materialized() unpins it: after a list-mode and a
    constant-mode run no cached block of either is left."""
    from odoo_batch_processing_spark.operators.bulk_update import bulk_update_run
    from odoo_batch_processing_spark.session import release_materialized

    def pinned():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    df = spark.createDataFrame(
        [(i, i % 2 == 1, True, i % 3 == 0, f"old{i}") for i in range(1, 13)],
        "row_ord bigint, visible boolean, editable boolean, readonly boolean, name string",
    )
    guards = dict(visible=F.col("visible"), editable=F.col("editable"), readonly=F.col("readonly"))
    settle(spark)
    before = pinned()
    for value in (["A", "B", "C"], "X"):
        bulk_update_run(df, "name", value, order_cols=["row_ord"], spark=spark, **guards)
    assert pinned() != before
    release_materialized()
    assert pinned() == before


def test_distributed_ordinal_matches_global_window(spark):
    """distributed_ordinal must equal with_ordinal bit-for-bit on a
    UNIQUE key, and its DATA-side sort must be partition-local (the
    single-partition sort the global window needs may appear only on
    the n_parts-row offset relation, never under the row-bearing
    exchange).

    Round 4's version of this test keyed comparison dicts on
    (l_orderkey, l_linenumber) — which is NOT unique in the fixture
    (~24% duplicate pairs), so ~23% of rows silently collapsed before
    the assert and the r09 tie-order bug sailed through. Now: assert
    key uniqueness FIRST, then compare sorted full-row lists so every
    row participates."""
    from odoo_batch_processing_spark.operators.bulk_update import (
        R09_ORDER_COLS,
        distributed_ordinal,
        with_ordinal,
    )
    from odoo_batch_processing_spark.operators.profile import portable_row_hash_hex
    from odoo_batch_processing_spark.sources.loader import load_table

    from tests.conftest import SF_SMOKE

    keys = R09_ORDER_COLS  # full-row tiebreakers: provably unique (the
    # extra md5 column rides along as payload — a round-6 regression
    # fixture: a COMPUTED input column used to break exchange reuse and
    # with it the old spark_partition_id-based ordinal's determinism)
    li = load_table(spark, SF_SMOKE, "lineitem")
    li = li.withColumn("__rowhash", portable_row_hash_hex(keys))
    n = li.count()
    assert li.select(*keys).distinct().count() == n  # precondition, loudly
    # and the OLD key really is non-unique — the trap this test guards
    assert li.select("l_orderkey", "l_linenumber").distinct().count() < n

    a = sorted(map(tuple, with_ordinal(li, keys).collect()))
    b = sorted(map(tuple, distributed_ordinal(li, keys, n_parts=8).collect()))
    assert len(a) == n and a == b

    plan = distributed_ordinal(li, keys, n_parts=8)._jdf.queryExecution().executedPlan().toString()
    # the row-bearing path must sort after a range exchange, not after
    # an Exchange SinglePartition (allowed only for the offsets branch,
    # which carries no l_linenumber column)
    import re

    # every Sort over the data columns must be non-global (local sort)
    data_sorts = re.findall(r"Sort \[[^\]]*l_linenumber[^\]]*\], (\w+)", plan)
    assert data_sorts and all(g == "false" for g in data_sorts), plan[:3000]


def test_ordinal_tiebreaker_agreement_on_duplicate_keys(spark):
    """Property: on a fixture with DUPLICATE declared keys, adding
    tiebreaker columns makes distributed_ordinal == with_ordinal ==
    DuckDB ROW_NUMBER, while the bare duplicate key (a) fails the
    validate_unique guard and (b) genuinely diverges between engines
    somewhere — i.e. this test would fail on the pre-fix HEAD~ where
    the core r09 ran distributed_ordinal on the bare pair."""
    import duckdb
    import pandas as pd
    import pytest as _pytest

    from odoo_batch_processing_spark.operators.bulk_update import (
        distributed_ordinal,
        with_ordinal,
    )

    # 400 rows, key 'k' has heavy duplication; 'tb' makes (k, tb) unique
    pdf = pd.DataFrame(
        {
            "k": [i % 37 for i in range(400)],
            "tb": [(i * 131) % 1009 for i in range(400)],
            "payload": [f"p{i:03d}" for i in range(400)],
        }
    )
    df = spark.createDataFrame(pdf).repartition(8)

    # (a) the bare duplicate key fails loudly at execution time (the
    # guard rides the ordinal's own window since round 6 — zero extra
    # scan — so it surfaces as a SparkRuntimeException from
    # raise_error when the ordinal is computed, not a driver-side
    # ValueError at plan time)
    # with_ordinal's guard covers the small-values side of the zip
    for ordinal in (distributed_ordinal, with_ordinal):
        with _pytest.raises(Exception, match="not unique"):
            ordinal(df, ["k"], validate_unique=True).select("row_ord").collect()

    # (b) with the tiebreaker, all three engines agree row-for-row
    keys = ["k", "tb"]
    a = sorted(
        (r["k"], r["tb"], r["payload"], r["row_ord"])
        for r in with_ordinal(df, keys).collect()
    )
    b = sorted(
        (r["k"], r["tb"], r["payload"], r["row_ord"])
        for r in distributed_ordinal(df, keys, n_parts=8, validate_unique=True).collect()
    )
    oracle = sorted(
        duckdb.sql(
            "SELECT k, tb, payload, ROW_NUMBER() OVER (ORDER BY k, tb) AS row_ord FROM pdf"
        ).fetchall()
    )
    assert a == b == oracle and len(a) == 400


def test_validate_unique_accepts_null_keys(spark):
    """NULL-carrying keys that are genuinely unique must pass the
    uniqueness guard (struct-distinct counts NULL keys as values);
    true duplicates must still raise."""
    import pytest as _pytest

    from odoo_batch_processing_spark.operators.bulk_update import distributed_ordinal

    ok = spark.createDataFrame([(1,), (2,), (None,)], "k int")
    got = distributed_ordinal(ok, ["k"], validate_unique=True).collect()
    assert len(got) == 3  # unique-with-NULL passes, ordinal computed

    dup = spark.createDataFrame([(1,), (1,), (None,)], "k int")
    with _pytest.raises(Exception, match="not unique"):
        distributed_ordinal(dup, ["k"], validate_unique=True).select(
            "row_ord"
        ).collect()


def test_portable_row_hash_matches_duckdb_fragment(spark):
    """The Spark row hash (portable_row_hash_hex) and the oracle-side
    SQL fragment (portable_row_hash_hex_sql) must produce
    byte-identical md5 hex digests over typed lineitem columns (bigint,
    int, double, string, timestamp), so a hash-keyed order sorts the
    same way in both engines. Also asserts the hash is unique over the
    full row, so it could serve as a total-order tiebreaker."""
    import duckdb

    from odoo_batch_processing_spark.operators.profile import (
        portable_row_hash_hex,
        portable_row_hash_hex_sql,
    )
    from odoo_batch_processing_spark.sources.loader import load_table

    from tests.conftest import SF_SMOKE

    cols = (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate",
    )
    li = load_table(spark, SF_SMOKE, "lineitem")
    sp = set(r[0] for r in li.select(portable_row_hash_hex(cols)).collect())
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW lineitem AS SELECT * FROM '{SF_SMOKE}/lineitem.parquet'"
    )
    dk = set(
        r[0]
        for r in con.sql(
            f"SELECT {portable_row_hash_hex_sql(cols)} FROM lineitem"
        ).fetchall()
    )
    n = li.count()
    assert sp == dk
    assert len(sp) == n  # full-row hash is unique -> total order is total


def test_bounded_rows_single_bucket_matches_window(spark):
    """distributed_ordinal(bounded_rows=n) skips the boundary sketch
    and runs single-bucket — output must still equal the global-window
    ordinal row-for-row, and the plan must contain no join (the
    offsets branch disappears entirely in this mode)."""
    import pandas as pd

    from odoo_batch_processing_spark.operators.bulk_update import (
        distributed_ordinal,
        with_ordinal,
    )

    pdf = pd.DataFrame({"k": [(i * 37) % 101 for i in range(101)],
                        "p": [f"x{i}" for i in range(101)]})
    df = spark.createDataFrame(pdf).repartition(5)
    a = sorted(map(tuple, with_ordinal(df, ["k"]).collect()))
    bounded = distributed_ordinal(df, ["k"], bounded_rows=101, validate_unique=True)
    b = sorted(map(tuple, bounded.collect()))
    assert a == b and len(a) == 101
    plan = bounded._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan[:2000]


def test_boundary_memo_stale_entries_are_value_safe(spark, tmp_path):
    """The boundary-sketch memo is keyed on the ANALYZED plan, so
    rewriting the underlying files under an identical plan reuses
    now-stale boundaries. That must be value-safe by construction:
    boundaries only steer bucket balance, never the ordinal. This test
    overwrites a parquet source with different data and asserts the
    memo-hit ordinal still matches the global window exactly."""
    import pandas as pd
    from pyspark.sql import functions as F

    from odoo_batch_processing_spark.operators.bulk_update import (
        _BOUNDARY_CACHE,
        distributed_ordinal,
        with_ordinal,
    )

    path = str(tmp_path / "memo_src")

    def write(lo, hi):
        spark.createDataFrame(
            pd.DataFrame({"k": list(range(lo, hi)), "p": [f"x{i}" for i in range(lo, hi)]})
        ).write.mode("overwrite").parquet(path)

    write(0, 3000)
    df1 = spark.read.parquet(path)
    before = len(_BOUNDARY_CACHE)
    a1 = sorted(map(tuple, distributed_ordinal(df1, ["k"], n_parts=6).collect()))
    assert len(_BOUNDARY_CACHE) > before  # sketch ran and was memoized
    assert a1 == sorted(map(tuple, with_ordinal(df1, ["k"]).collect()))

    # rewrite the SAME path with a disjoint key range: identical plan
    # -> memo hit with boundaries sampled from the old data
    write(50_000, 53_000)
    df2 = spark.read.parquet(path)
    n_after_first = len(_BOUNDARY_CACHE)
    a2 = sorted(map(tuple, distributed_ordinal(df2, ["k"], n_parts=6).collect()))
    assert len(_BOUNDARY_CACHE) == n_after_first  # no new sketch: memo hit
    assert a2 == sorted(map(tuple, with_ordinal(df2, ["k"]).collect()))

    # and the stale-memo-hit result must be value-identical to a
    # FRESH-boundary recompute (cache cleared -> new sketch over the
    # new data): stale boundaries skew only balance, never values —
    # the exact claim the memo's safety rests on (VERDICT r6 item 4)
    _BOUNDARY_CACHE.clear()
    a2_fresh = sorted(
        map(tuple, distributed_ordinal(df2, ["k"], n_parts=6, validate_unique=True).collect())
    )
    assert len(_BOUNDARY_CACHE) == 1  # fresh sketch ran
    assert a2_fresh == a2


def test_portable_row_hash_null_sentinel_cross_engine(spark):
    """portable_row_hash_hex's NUL-byte NULL sentinel must behave
    identically in Spark and DuckDB: NULL-carrying rows hash the same
    in both engines, and (NULL,'x') does not collide with ('x',NULL)
    or with the no-NULL row — the failure modes concat_ws/plain-||
    would introduce."""
    import duckdb
    import pandas as pd

    from odoo_batch_processing_spark.operators.profile import (
        portable_row_hash_hex,
        portable_row_hash_hex_sql,
    )

    pdf = pd.DataFrame(
        {
            "a": ["x", None, "x", None, "x|y"],
            "b": [None, "x", "x", None, None],
        }
    )
    df = spark.createDataFrame(pdf)
    sp = [
        r["h"]
        for r in df.select(portable_row_hash_hex(("a", "b")).alias("h"))
        .orderBy("h")
        .collect()
    ]
    con = duckdb.connect()
    con.register("t", pdf)
    dk = sorted(
        r[0]
        for r in con.sql(
            "SELECT "
            + portable_row_hash_hex_sql(("a", "b"))
            + " FROM t"
        ).fetchall()
    )
    assert sp == dk
    assert len(set(sp)) == 5  # all five NULL/shape variants distinct
