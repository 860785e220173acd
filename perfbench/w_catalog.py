"""catalog-core: closed loop, one client. Passes over a fixed slice of
the core registry catalog on generated sf0.01-sized tables, each query
drained, in a seed-permuted order. Set-up's cold pass fixes each
query's drain key and checks the same DataFrame against its DuckDB
oracle; warm passes follow before the timed ones."""

from __future__ import annotations

import time

import numpy as np

import gen
from common import drain
from tracer import (
    catalyst_phases,
    make_progress_listener,
    stream_phase_medians,
    swap_everywhere,
    unswap,
)

#: The slice of the 50 core queries that fits the benchmark's time
#: budget on a 4-core host, one query per layer: a TPC-H aggregate
#: (plans), the zip-join bulk update (operators) and a stateful stream
#: (streaming); all three read through sources. A query's first run costs
#: about 5 s of set-up, so each one added costs more there than in the
#: timed rounds.
QUERIES = ("q01_pricing_summary", "r09_zip_join_update", "s_stateful_totals")

LAYER_OF_MODULE = {
    "plans": "plans.construct",
    "operators": "operators.construct",
    "streaming": "streaming.query_run",
}

#: The list-mode update whose success count is compared with the
#: reference's: fewer pasted values than visible rows, so the rows past
#: the list are where the two counts differ.
OVERCOUNT_ROWS = 2_000
OVERCOUNT_VALUES = 500


def _layer(fn) -> str:
    return LAYER_OF_MODULE[fn.__module__.split(".")[1]]


def patch_zip_join(tracer):
    """Wrap the zip-join update and the ordinals beneath it, which
    ``r09_zip_join_update`` reaches."""
    from odoo_batch_processing_spark.operators import bulk_update as B

    tracer.patch(B, "zip_join_update", "bulk_update.zip_join")
    for fn in ("distributed_ordinal", "with_ordinal"):
        wrapped = tracer.wrap(getattr(B, fn), "bulk_update.ordinal")

        def counted(*a, _w=wrapped, **k):
            tracer.count("bulk_update.ordinal_calls")
            return _w(*a, **k)

        tracer.patch(B, fn, "bulk_update.ordinal", wrapper=counted)


def success_overcount(spark, table, path) -> int:
    """List-mode ``bulk_update_run`` successes minus the reference's. The
    reference zips the i-th value onto the i-th visible row while
    i < len(values), and a guarded row consumes its value unchanged."""
    from odoo_batch_processing_spark.operators.bulk_update import bulk_update_run
    from pyspark.sql import functions as F

    gen.write_parquet(table, path)
    res = bulk_update_run(
        spark.read.parquet(path), "note", [f"v{i}" for i in range(OVERCOUNT_VALUES)],
        ["row_ord"], visible=F.col("visible"), editable=F.col("editable"),
        readonly=F.col("readonly"), spark=spark,
    )
    vis = table["visible"].to_numpy()
    applied = vis & table["editable"].to_numpy() & ~table["readonly"].to_numpy()
    successes = int((applied & (np.cumsum(vis) <= OVERCOUNT_VALUES)).sum())
    return res.success_count - successes


class CatalogCore:
    name = "catalog-core"

    def __init__(self, ctx):
        self.ctx = ctx
        self.sf_dir = ctx.path("inputs", "sf")
        self.table_rows = {}
        rng = np.random.default_rng(ctx.seed)
        self.ops = self.op_names = [QUERIES[i] for i in rng.permutation(len(QUERIES))]
        self.listview = None
        self.fns = {}
        self.expected = {}
        self.input_rows = {}
        self.collect_times = []
        self.progress: list = []
        self.listener = None
        self.listened_rounds = 0
        self.notes = {}
        self.rows_per_round = 0

    # -- layers the traced run wraps ------------------------------------
    def patch(self, tracer):
        from odoo_batch_processing_spark.sources import loader

        load = tracer.wrap(loader.load_table, "sources.load_table")

        def load_table(*a, **k):
            tracer.count("sources.load_table_calls")
            return load(*a, **k)

        tracer.patch(loader, "load_table", "sources.load_table", wrapper=load_table)
        patch_zip_join(tracer)

    def layer_extras(self) -> dict:
        out = {"registry.collect_s": float(np.median(self.collect_times))}
        data = [p for p in self.progress if p["numInputRows"] > 0]
        out.update(stream_phase_medians(data))
        out["streaming.batches"] = len(data) / max(1, self.listened_rounds)
        out["streaming.rows_per_batch"] = float(np.median([p["numInputRows"] for p in data])) if data else 0.0
        out["streaming.state_rows"] = max((p["stateRows"] for p in data), default=0)
        return out

    # -- phases -----------------------------------------------------------
    def generate(self):
        rng = np.random.default_rng([self.ctx.seed, 1])
        for name, table in gen.catalog_tables(self.ctx.seed).items():
            gen.write_parquet(table, f"{self.sf_dir}/{name}.parquet")
            self.table_rows[name] = table.num_rows
        self.listview = gen.listview_table(rng, OVERCOUNT_ROWS)

    def stage(self, spark):
        """Collect the registry and read every table once."""
        from odoo_batch_processing_spark import registry
        from odoo_batch_processing_spark.sources.loader import load_table

        t0 = time.perf_counter()
        queries = registry.all_queries()
        self.oracles = registry.all_oracles()
        self.collect_times.append(time.perf_counter() - t0)
        self.fns = {q: queries[q] for q in self.ops}
        for name in self.table_rows:
            load_table(spark, self.sf_dir, name).count()

    def cold_pass(self, spark):
        """Set-up's first pass, checked: run each query once, fix its
        drain key, and compare the same DataFrame with its DuckDB oracle;
        then the list-mode overcount. Returns ``(failures, check_s)``,
        where ``check_s`` is the time spent checking, which set-up
        leaves out."""
        import duckdb

        from odoo_batch_processing_spark import oracle
        from odoo_batch_processing_spark.sources import loader

        t0 = time.perf_counter()
        con = duckdb.connect()
        for name in self.table_rows:
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{self.sf_dir}/{name}.parquet'")
        check_s = time.perf_counter() - t0
        original = loader.load_table
        failures = []
        for q in self.ops:
            loaded = []
            swapped = swap_everywhere(
                original, lambda s, d, n: loaded.append(n) or original(s, d, n)
            )
            try:
                df = self.fns[q](spark, self.sf_dir)
                self.expected[q], _ = drain(df)
                t0 = time.perf_counter()
                res = oracle.compare(q, df, con, self.oracles[q])
                check_s += time.perf_counter() - t0
            finally:
                unswap(swapped)
            if not res.ok:
                failures.append(f"{q}: {'; '.join(res.issues)}")
            if res.spark_rows != self.expected[q][0]:
                failures.append(f"{q}: drained {self.expected[q][0]} rows, checked {res.spark_rows}")
            # streaming rows read the events table through a file source
            tables = loaded or (["events"] if q.startswith("s_") else [])
            self.input_rows[q] = sum(self.table_rows[t] for t in tables)
            self.ctx.release()
        con.close()
        t0 = time.perf_counter()
        self.notes["bulk_update.success_overcount"] = success_overcount(
            spark, self.listview, self.ctx.path("inputs", "listview.parquet")
        )
        self.ctx.release()
        check_s += time.perf_counter() - t0
        self.rows_per_round = sum(self.input_rows.values())
        return failures, check_s

    def round(self, spark, probe, latencies, catalyst):
        """One pass over the slice; returns failed queries. A query fails
        when its drain key differs from the one the cold pass fixed."""
        tracer = self.ctx.tracer
        if probe and self.listener is None:
            self.listener = make_progress_listener(self.progress)
            spark.streams.addListener(self.listener)
        # the listener hears untraced rounds too: count every round it heard
        self.listened_rounds += self.listener is not None
        failed = 0
        for q in self.ops:
            fn = self.fns[q]
            if probe:
                probe.begin(q)
            t0 = time.perf_counter()
            with tracer.span("op"):
                with tracer.span(_layer(fn)):
                    df = fn(spark, self.sf_dir)
                with tracer.span("catalog.drain"):
                    key, agg = drain(df)
            latencies.append(time.perf_counter() - t0)
            if probe:
                probe.end()
                catalyst.append(catalyst_phases(agg))
            if key != self.expected[q]:
                failed += 1
            self.ctx.notes.setdefault("pins", []).append(self.ctx.release())
        return failed

    def close(self, spark):
        if self.listener is not None:
            spark.streams.removeListener(self.listener)
            self.listener = None
