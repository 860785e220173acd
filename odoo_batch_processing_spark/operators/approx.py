"""Approximate + exact distributive aggregates (X8 — 100 TB posture).

At 100 TB, COUNT(DISTINCT) and exact percentiles are shuffle-heavy
(distinct needs a full re-partition by value; exact percentile needs a
sort); the approximate forms are single-pass sketches that merge
map-side (HyperLogLog++ for distinct, KLL/GK for quantiles) — constant
memory, one shuffle of sketch bytes, not rows.

Sketch ESTIMATES are engine-specific (DuckDB uses different
algorithms/seeds), so raw-estimate queries can't hash-match a DuckDB
oracle. EVERY catalog query in this family therefore emits exact
measures plus ``*_ok`` tolerance booleans (oracle: exact + literal
TRUE) — fully hash-checked; a sketch drifting outside its published
bound is a driver-visible hash mismatch (VERDICT r12 #5 closed the
last two rows-only forms). The raw-estimate builders survive as
private helpers whose accuracy ``tests/test_approx.py`` bounds
in-engine with tighter, value-level assertions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from odoo_batch_processing_spark.sources.loader import load_table


def _q_x8_exact_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


def _x8_approx_distinct_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw HLL++ estimates — private helper for the in-engine accuracy
    test (tests/test_approx.py); engine-specific values, never
    catalog-registered."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("n_parts_approx"),
        F.approx_count_distinct("l_suppkey", rsd=0.02).alias("n_supps_approx"),
    )


def _q_x8_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ distinct under the tolerance-boolean oracle contract
    (VERDICT r12 #5 — previously rows-only): emit the EXACT distinct
    counts plus ``*_ok`` booleans asserting the estimate landed within
    5×rsd of exact (rsd=0.02 is a std-dev, not a hard bound); the
    DuckDB oracle computes exact + literal TRUE, so a drifting sketch
    hash-mismatches. Sketches and countDistinct stay in SEPARATE
    aggregations (the x8_approx_aggs split — mixing them makes the
    distinct rewrite build partial HLL buffers per (flag, key) pair);
    the rejoin key is the 3-row group key, AQE broadcasts it."""
    li = load_table(spark, sf_dir, "lineitem")
    approx = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("_np_a"),
        F.approx_count_distinct("l_suppkey", rsd=0.02).alias("_ns_a"),
    )
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )
    return exact.join(approx, "l_returnflag").select(
        "l_returnflag",
        "n_parts",
        "n_supps",
        (F.abs(F.col("_np_a") - F.col("n_parts")) <= 0.10 * F.col("n_parts")).alias(
            "n_parts_ok"
        ),
        (F.abs(F.col("_ns_a") - F.col("n_supps")) <= 0.10 * F.col("n_supps")).alias(
            "n_supps_ok"
        ),
    )


def _q_x8_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", 0.5).alias("p50"),
        F.percentile("o_totalprice", 0.9).alias("p90"),
    )


def _x8_approx_percentiles_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw GK-sketch quantiles — private helper for the in-engine
    rank-tolerance test; engine-specific values, never
    catalog-registered."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.percentile_approx("o_totalprice", 0.5, 10000).alias("p50_approx"),
        F.percentile_approx("o_totalprice", 0.9, 10000).alias("p90_approx"),
    )


def _q_x8_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GK-sketch quantiles under the tolerance-boolean oracle contract
    (VERDICT r12 #5 — previously rows-only): emit the EXACT p50/p90
    plus ``*_ok`` booleans asserting the sketch answer sits inside the
    exact [q−ε, q+ε] rank band (ε=0.01 ≫ the sketch's 1/accuracy=1e-4);
    DuckDB oracle: exact quantiles + literal TRUE. One array-percentile
    call per algorithm (each scalar Percentile buffers and sorts the
    group independently — the x8_approx_aggs plan-shape rule)."""
    orders = load_table(spark, sf_dir, "orders")
    exact_ps = F.array(*[F.lit(p) for p in (0.5, 0.9, 0.49, 0.51, 0.89, 0.91)])
    approx_ps = F.array(F.lit(0.5), F.lit(0.9))
    agg = orders.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", exact_ps).alias("_pct"),
        F.percentile_approx("o_totalprice", approx_ps, 10000).alias("_pa"),
    )
    p = {q: F.element_at("_pct", i + 1) for i, q in enumerate((50, 90, 49, 51, 89, 91))}
    return agg.select(
        "o_orderpriority",
        p[50].alias("p50"),
        p[90].alias("p90"),
        F.element_at("_pa", 1).between(p[49], p[51]).alias("p50_ok"),
        F.element_at("_pa", 2).between(p[89], p[91]).alias("p90_ok"),
    )


def _q_x8_exact_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT) + exact percentiles — the hash-checked
    semantics that x8_approx_aggs approximates (same grouping, same
    measures). Same split as x8_approx_aggs: a distinct aggregate
    sharing an Aggregate with a buffer-heavy percentile forces the
    distinct rewrite to build partial percentile buffers per
    (priority, custkey); two single-level aggs + a 5-row broadcast
    join compute identical values 2.4× faster (measured on the approx
    twin at sf0.1)."""
    orders = load_table(spark, sf_dir, "orders")
    pcts = orders.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", F.array(F.lit(0.5), F.lit(0.9))).alias("_pct"),
    )
    dist = orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_custs"),
    )
    return pcts.join(dist, "o_orderpriority").select(
        "o_orderpriority",
        "n_custs",
        F.element_at("_pct", 1).alias("p50"),
        F.element_at("_pct", 2).alias("p90"),
    )


def _q_x8_approx_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch forms of x8_exact_aggs: HLL++ distinct + GK
    quantiles. Single pass, map-side mergeable, constant memory — the
    100 TB substitutes for the exact twin's distinct re-shuffle + sort.

    Hash-checkable form: sketch estimates themselves are
    engine-specific, so the query emits the EXACT measures plus
    ``*_ok`` booleans asserting the sketch landed inside its published
    error bound — HLL++ within 5×rsd relative (rsd is a std-dev, not a
    hard bound), GK quantiles inside the exact [q−ε, q+ε] rank band
    (ε=0.01 ≫ the sketch's 1/accuracy=1e-4). The DuckDB oracle computes
    the exact measures and literal TRUE for the booleans, so a sketch
    drifting out of tolerance is a driver-visible hash mismatch.
    """
    orders = load_table(spark, sf_dir, "orders")
    # Plan shape matters more than the aggregate list here (found when
    # the round-8 value-forcing drain started actually measuring this
    # query — count() had been pruning every aggregate out of the
    # Aggregate node, so it had never been benched):
    #
    # 1. ONE array-percentile per (column, algorithm) instead of eight
    #    scalar calls — each scalar Percentile buffers and sorts the
    #    group's values independently.
    # 2. Keep the DISTINCT aggregates in a SEPARATE aggregation from
    #    the buffer-heavy ones. Mixing countDistinct with percentile
    #    makes Spark's distinct rewrite build partial percentile/HLL
    #    buffers per (priority, custkey) — ~100k buffer merges instead
    #    of 5. Measured at sf0.1: combined 6.9 s; split + 5-row join
    #    1.6 s, identical values (the join key is the group key, so
    #    this is a broadcast of 5 rows).
    exact_ps = F.array(*[F.lit(p) for p in (0.5, 0.9, 0.49, 0.51, 0.89, 0.91)])
    approx_ps = F.array(F.lit(0.5), F.lit(0.9))
    pcts = orders.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", exact_ps).alias("_pct"),
        F.percentile_approx("o_totalprice", approx_ps, 10000).alias("_pct_approx"),
    )
    dist = orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_custs"),
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("_n_approx"),
    )
    # no broadcast hint: the group-key cardinality is fixed (5
    # priorities) but the subtree scans an SF-scaling relation, so the
    # hint would trip the catalog hygiene rule — AQE converts the
    # 5-row side to a broadcast at runtime anyway
    agg = pcts.join(dist, "o_orderpriority")
    p = {q: F.element_at("_pct", i + 1) for i, q in enumerate((50, 90, 49, 51, 89, 91))}
    return agg.select(
        "o_orderpriority",
        "n_custs",
        p[50].alias("p50"),
        p[90].alias("p90"),
        (F.abs(F.col("_n_approx") - F.col("n_custs")) <= 0.10 * F.col("n_custs")).alias(
            "n_custs_ok"
        ),
        F.element_at("_pct_approx", 1).between(p[49], p[51]).alias("p50_ok"),
        F.element_at("_pct_approx", 2).between(p[89], p[91]).alias("p90_ok"),
    )


#: histogram bin width for events.value
_HIST_WIDTH = 10.0


def _q_x8_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of events.value (width-10 bins, NULLs in
    their own bucket): the one-pass distribution profile a data-quality
    sweep runs next to the percentile sketch. A single partial+final
    aggregate on the bin key — no sort, no sketch state; at 100 TB the
    map-side combine reduces each partition to ~|bins| rows before the
    shuffle."""
    ev = load_table(spark, sf_dir, "events")
    bin_id = F.floor(F.col("value") / F.lit(_HIST_WIDTH)).cast("int")
    return ev.groupBy(bin_id.alias("bin_id")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
    )


QUERIES = {
    # x8_approx_aggs strictly subsumes the exact twin: it emits the
    # same exact measures PLUS the sketch-tolerance booleans
    "x8_approx_aggs": _q_x8_approx_aggs,
    "x8_exact_aggs": _q_x8_exact_aggs,
    "x8_exact_distinct": _q_x8_exact_distinct,
    "x8_approx_distinct": _q_x8_approx_distinct,
    "x8_exact_percentiles": _q_x8_exact_percentiles,
    "x8_approx_percentiles": _q_x8_approx_percentiles,
    "x8_value_histogram": _q_x8_value_histogram,
}

ORACLES = {
    "x8_approx_aggs": """
        SELECT o_orderpriority,
               COUNT(DISTINCT o_custkey) AS n_custs,
               quantile_cont(o_totalprice, 0.5) AS p50,
               quantile_cont(o_totalprice, 0.9) AS p90,
               TRUE AS n_custs_ok,
               TRUE AS p50_ok,
               TRUE AS p90_ok
        FROM orders GROUP BY o_orderpriority
    """,
    "x8_exact_aggs": """
        SELECT o_orderpriority,
               COUNT(DISTINCT o_custkey) AS n_custs,
               quantile_cont(o_totalprice, 0.5) AS p50,
               quantile_cont(o_totalprice, 0.9) AS p90
        FROM orders GROUP BY o_orderpriority
    """,
    "x8_exact_distinct": """
        SELECT l_returnflag,
               COUNT(DISTINCT l_partkey) AS n_parts,
               COUNT(DISTINCT l_suppkey) AS n_supps
        FROM lineitem GROUP BY l_returnflag
    """,
    "x8_exact_percentiles": """
        SELECT o_orderpriority,
               quantile_cont(o_totalprice, 0.5) AS p50,
               quantile_cont(o_totalprice, 0.9) AS p90
        FROM orders GROUP BY o_orderpriority
    """,
    "x8_approx_distinct": """
        SELECT l_returnflag,
               COUNT(DISTINCT l_partkey) AS n_parts,
               COUNT(DISTINCT l_suppkey) AS n_supps,
               TRUE AS n_parts_ok,
               TRUE AS n_supps_ok
        FROM lineitem GROUP BY l_returnflag
    """,
    "x8_approx_percentiles": """
        SELECT o_orderpriority,
               quantile_cont(o_totalprice, 0.5) AS p50,
               quantile_cont(o_totalprice, 0.9) AS p90,
               TRUE AS p50_ok,
               TRUE AS p90_ok
        FROM orders GROUP BY o_orderpriority
    """,
    "x8_value_histogram": """
        SELECT CAST(FLOOR(value / 10.0) AS INTEGER) AS bin_id,
               COUNT(1) AS n, MIN(value) AS lo, MAX(value) AS hi
        FROM events GROUP BY 1
    """,
}


def heavy_hitters(items: DataFrame, col: str = "token", k: int = 32) -> DataFrame:
    """Exact φ-heavy hitters (φ = 1/k) over an item stream via the
    standard two-pass Misra–Gries scheme: a bounded-memory
    per-partition summary generates a small candidate set, then one
    exact recount over the candidates filters to the true hitters.

    Why not plain wordcount? At 100 TB the stream's VOCABULARY can
    itself be shuffle-heavy (URLs, ids, typos → billions of keys);
    Misra–Gries bounds pass-1 state to k−1 counters PER PARTITION and
    ships only ≤ (k−1)·partitions candidate items. Pigeonhole gives
    the guarantee: any item with global count > n/k exceeds the local
    n_p/k bound in at least one partition, and MG with k−1 counters
    never evicts such an item — so candidates ⊇ true hitters, and the
    recount (a broadcast-able semi-join, then groupBy over ONLY the
    candidate keys) makes the final answer EXACT. That is why a DuckDB
    exact-frequency oracle can hash-gate a sketch-based plan.

    Pass 1 is an Arrow-batched mapInPandas (iterator form: ONE summary
    per partition, not per batch); the hot recount path is pure JVM.
    """

    def misra_gries(batches):
        import pandas as pd

        # WEIGHTED Misra–Gries (the summary-merge form, Agarwal et
        # al.): fold each batch's value_counts (C speed) into the
        # summary, then if it overflows k−1 entries subtract the k-th
        # largest weight from everything and drop the non-positive.
        # Same superset guarantee as the per-item update — the total
        # decrement applied to any surviving item is still ≤ n_p/k —
        # without a Python dict op per ROW, only per distinct token
        # per batch.
        counters: dict[str, int] = {}
        for pdf in batches:
            for t, w in pdf[col].value_counts().items():
                counters[t] = counters.get(t, 0) + int(w)
            if len(counters) > k - 1:
                thresh = sorted(counters.values(), reverse=True)[k - 1]
                counters = {t: c - thresh for t, c in counters.items() if c > thresh}
        yield pd.DataFrame({col: list(counters.keys())})

    tok = items.select(col)
    candidates = tok.mapInPandas(misra_gries, f"{col} string").distinct()
    # the threshold count is its OWN action — one extra column-pruned
    # scan of the stream (three total: count, candidates, recount)
    total = tok.count()
    return (
        tok.join(candidates, col, "left_semi")
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("cnt"))
        # exact threshold in integers: cnt > n/k  ⇔  cnt·k > n
        .filter(F.col("cnt") * k > F.lit(total))
        .orderBy(F.col("cnt").desc(), col)
    )


def _q_x8_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """φ = 1/32 heavy hitters over the documents token stream — see
    :func:`heavy_hitters` for the two-pass Misra–Gries contract."""
    from odoo_batch_processing_spark.operators.text import tokens
    from odoo_batch_processing_spark.sources.loader import fan_out

    docs = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    tok = docs.select(F.explode(tokens(F.col("text"))).alias("token"))
    return heavy_hitters(tok, "token", k=32)


QUERIES["x8_heavy_hitters"] = _q_x8_heavy_hitters
ORACLES["x8_heavy_hitters"] = """
    WITH tok AS (
        SELECT unnest(list_filter(string_split(text, ' '), x -> trim(x) <> '')) AS token
        FROM documents
    ), tot AS (SELECT COUNT(1) AS n FROM tok)
    SELECT token, COUNT(1) AS cnt
    FROM tok, tot
    GROUP BY token, tot.n
    HAVING COUNT(1) * 32 > tot.n
    ORDER BY cnt DESC, token
"""


# ---------------------------------------------------------------------------
# Mergeable HLL sketches (Apache DataSketches surface, Spark 4)
# ---------------------------------------------------------------------------


def _q_x8_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned-sketch distinct counting — the 100 TB pattern the
    one-shot `approx_count_distinct` can't do: build one HLL sketch
    PER SOURCE PARTITION (here: per event_type), persist/ship the
    sketch binaries, and `hll_union_agg` them into a global estimate
    without touching the raw keys again. This is how a daily distinct-
    users metric is maintained incrementally: yesterday's sketch + a
    sketch of today's partition, union, estimate — O(sketch bytes),
    not O(users). Uses Spark 4's Apache DataSketches functions
    (`hll_sketch_agg`/`hll_union_agg`/`hll_sketch_estimate`), whose
    sketch binaries ARE portable across systems that speak
    DataSketches — but not to DuckDB, so the oracle contract is the
    x8_approx_aggs form: exact measures + within-tolerance booleans
    (estimate within 10 % of exact, and the merged estimate within
    10 % of the exact GLOBAL distinct — both far beyond lgK=12's
    ~1.6 % rsd), TRUE literals on the DuckDB side."""
    ev = load_table(spark, sf_dir, "events")
    # sketch and countDistinct in SEPARATE aggregations (the
    # x8_approx_aggs split): sharing one Aggregate makes the distinct
    # rewrite build a partial lgK=12 HLL buffer (~4 KB) per
    # (event_type, user_id) PAIR — |distinct pairs| sketch merges
    # instead of |groups|. The rejoin key is the group key (5 rows).
    sk_part = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(12)).alias("sk"),
    )
    nd_part = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact"),
    )
    per_part = sk_part.join(nd_part, "event_type")
    glob = per_part.agg(
        F.sum(F.lit(1)).cast("bigint").alias("n_parts"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("_g_est"),
    )
    exact_glob = ev.agg(F.countDistinct("user_id").alias("_g_exact"))
    return (
        per_part.select(
            "event_type",
            "n_exact",
            (
                F.abs(F.hll_sketch_estimate("sk") - F.col("n_exact"))
                <= 0.10 * F.col("n_exact")
            ).alias("part_est_ok"),
        )
        .crossJoin(glob.select("n_parts", "_g_est"))
        .crossJoin(exact_glob)
        .select(
            "event_type",
            "n_exact",
            "part_est_ok",
            "n_parts",
            F.col("_g_exact").alias("n_global_exact"),
            (
                F.abs(F.col("_g_est") - F.col("_g_exact"))
                <= 0.10 * F.col("_g_exact")
            ).alias("global_est_ok"),
        )
    )


QUERIES["x8_hll_merge"] = _q_x8_hll_merge
ORACLES["x8_hll_merge"] = """
    WITH per AS (
        SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
        FROM events GROUP BY event_type
    ), tot AS (
        SELECT CAST(COUNT(1) AS BIGINT) AS n_parts FROM per
    ), ex AS (
        SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_global_exact FROM events
    )
    SELECT event_type, n_exact, TRUE AS part_est_ok, n_parts,
           n_global_exact, TRUE AS global_est_ok
    FROM per CROSS JOIN tot CROSS JOIN ex
"""
