"""Graph analytics over derived document graphs (PageRank centrality).

The reference has no graph surface (its 716-line userscript is a
row-update engine); this module extends the engine's iterative-
algorithm family (k-means in operators/similarity.py, connected
components in operators/dedup.py) with PageRank — the canonical
"rank by link structure" pass a curation pipeline uses to pick
CENTRAL survivors inside near-duplicate neighborhoods instead of
arbitrary min-id ones.

Determinism contract (how an iterative double-precision algorithm can
sit under a DuckDB hash oracle): per-edge contributions rank/deg are
quantized to integers — floor(x · 1e12) — before the per-target SUM,
so the only accumulation is EXACT bigint addition, immune to Spark's
partition-order-dependent double summation. Every remaining floating
op (the division, the scale/damping multiplies, the base add) is a
fixed-shape IEEE expression evaluated identically by both engines.
The quantization error (≤ deg · 1e-12 per node per iteration) is the
deliberate price of a bit-stable fixed-point PageRank; at 1e12 scale
it is far below any ranking-relevant difference.

100 TB shape: the rank state and degree table are one row per vertex,
partitioned by id; each iteration is one equi-join (edges ⋈ ranks on
src — both sides shuffle-partitioned by the join key) and one
groupBy(dst) with map-side partial sums of bigints. Lineage is cut
per iteration (session.truncate_lineage — reliable-checkpoint switch
applies), so plan depth stays constant over iterations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from odoo_batch_processing_spark.session import materialize_once, truncate_lineage

#: fixed-point quantization scale for edge contributions (see module
#: docstring); 1e12 keeps bigint sums far from overflow even at
#: billions of edges per target (1e12 · ranks ≤ 1 sums stay < 2^63).
QUANT_SCALE = 1e12


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iters: int = 3,
    edge_budget: int | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list in which
    every vertex has at least one out-edge (true by construction for
    symmetrized undirected graphs, which is what the doc-similarity
    query feeds in) — so there is no dangling-mass redistribution and
    no per-iteration driver scalar.

    Returns one row per vertex: ``id``, ``deg`` (out-degree),
    ``rank`` — including vertices with no IN-edges, which receive only
    the (1−d)/N base mass each round but keep contributing their own.
    Fixed ``iters`` (not convergence-tested) keeps the result
    oracle-expressible as an unrolled CTE.

    COST MODEL (inherent, not a defect): each iteration joins the full
    edge list and re-aggregates — total work is Θ(|E| · iters), which
    is why the 8× ladder shows near-linear-in-E wall growth
    (11→73 s, VERDICT r04 #8; SCALE.md). The upstream edge
    generator's hot-key cap (text.POSTING_ABS_CAP on the shared
    postings index) bounds |E| growth; ``edge_budget`` is the explicit
    guard on THIS operator: when set, one count aggregate verifies
    ``|E| · iters ≤ edge_budget`` before iterating and raises
    ValueError with the measured size instead of silently launching a
    multi-hour job — the same fail-loud discipline as
    distributed_ordinal's validate_unique.
    """
    # materialize unconditionally (ADVICE r5 #3, widened this round):
    # the edge relation feeds BOTH the degree aggregate and the
    # out_edges join — for the similarity-graph caller it is the
    # expensive trigram-postings self-join, and without the pin each
    # branch would recompute it.
    edges = edges.transform(materialize_once)
    # deg is read three times (the |E|/|V| scalars below, the out_edges
    # join, the final degree attach) — pin it too, and take BOTH
    # driver scalars from ONE aggregate over it: |E| = Σ deg and
    # |V| = COUNT(deg rows), exactly the numbers edges.count() and
    # nodes.count() used to compute in two separate jobs
    # (OPTIMIZATION r18, guide §1.2 — two full-relation scalar jobs
    # folded into one |V|-row aggregate; this one job also populates
    # the edge and degree caches for the iterations).
    deg = edges.groupBy(src).agg(F.count(F.lit(1)).alias("deg")).transform(
        materialize_once
    )
    scalars = deg.agg(
        F.coalesce(F.sum("deg"), F.lit(0)).alias("m"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    m, n = int(scalars["m"]), int(scalars["n"])
    if edge_budget is not None and m * iters > edge_budget:
        # the caller gets no relation to release: drop both pins first
        deg.unpersist()
        edges.unpersist()
        raise ValueError(
            f"pagerank: |E|·iters = {m}·{iters} = {m * iters:,} exceeds "
            f"edge_budget {edge_budget:,} — raise the budget, cut "
            "iterations, or tighten the upstream edge cap "
            "(text.POSTING_ABS_CAP for the shingle graph)"
        )
    nodes = deg.select(F.col(src).alias("id"))
    if n == 0:
        # empty graph: 1/n below would divide by zero — return the
        # correctly-typed empty relation so the operator composes
        # after a filters-to-zero upstream (tests/test_empty_corpus.py)
        return deg.select(
            F.col(src).alias("id"),
            F.col("deg"),
            F.lit(None).cast("double").alias("rank"),
        )
    # cache the (edge, degree) relation HASH-PARTITIONED ON src: the
    # iteration join below then satisfies its distribution requirement
    # straight from the InMemoryRelation's output partitioning, so the
    # |E|-row side never re-shuffles — only the |V|-row rank relation
    # moves, once per iteration. Without the explicit repartition the
    # cached partitioning depends on how the deg join happened to plan
    # (a broadcast deg leaves the upstream distinct's (src,dst)
    # partitioning, which does NOT satisfy hash(src)), and each
    # iteration paid a full exchange + sort of the edge relation —
    # measured 1.27 s/iteration at sf0.1 vs ~0.3 s co-partitioned.
    out_edges = (
        edges.join(deg, src).repartition(F.col(src)).transform(materialize_once)
    )
    ranks = nodes.select("id", F.lit(1.0 / float(n)).alias("rank"))
    base = F.lit(0.15) / F.lit(float(n))  # literal 0.15, NOT 1-damping:
    # Python's (1-0.85) is 0.15000000000000002 — one ulp off the 0.15
    # the SQL oracle parses, which would leak into every rank.
    # Explicit raise, not assert (review r15, same class as the r14
    # queue's streaming gates): under `python -O` a non-0.85 damping
    # would silently keep the unrolled 0.15 base term — every rank
    # wrong with a green return.
    if damping != 0.85:
        raise ValueError(
            f"pagerank: damping={damping} unsupported — the base term "
            "(and the DuckDB oracle) are unrolled for the standard 0.85"
        )
    for _i in range(iters):
        # SHUFFLE_HASH on the rank side: ranks is |V| rows (≪ |E|) and
        # already hash-partitioned on id by the previous iteration's
        # aggregate, so the planner builds the per-partition hash table
        # from it and streams the cached co-partitioned edge relation
        # with no exchange and no sort. A plain join would plan
        # sort-merge here (the rank relation's stats are unknown after
        # an iteration), paying a per-iteration sort of |E|; a
        # BROADCAST would be a per-iteration |V|-sized driver collect —
        # illegal for an SF-scaling vertex set (plan-hygiene rule).
        contrib = out_edges.join(
            ranks.hint("shuffle_hash"), out_edges[src] == ranks["id"]
        ).select(
            F.col(dst).alias("id"),
            F.floor(F.col("rank") / F.col("deg") * F.lit(QUANT_SCALE))
            .cast("bigint")
            .alias("q"),
        )
        # LEFT join from the full vertex set: a vertex with out-edges
        # but NO in-edges receives zero mass (qs → 0), yet must stay in
        # the rank relation — both to appear in the output ("one row
        # per vertex") and to keep CONTRIBUTING its own rank next
        # iteration (dropping it would also silently delete its
        # outgoing mass). On the symmetrized catalog graph every
        # vertex has in-edges and this is the same inner-join plan.
        ranks = (
            nodes.join(contrib.groupBy("id").agg(F.sum("q").alias("qs")), "id", "left")
            .select(
                "id",
                (
                    base
                    + F.lit(damping)
                    * (F.coalesce(F.col("qs"), F.lit(0)).cast("double") / F.lit(QUANT_SCALE))
                ).alias("rank"),
            )
        )
        # Lineage is NOT cut per iteration: the unrolled plan grows
        # linearly (one join + one aggregate per hop) and Catalyst
        # handles the catalog's 3 hops easily, while the old
        # per-iteration eager localCheckpoint cost a blocking job plus
        # block-store writes per hop AND erased the rank relation's
        # partitioning/stats (an ExistingRDD scan — the reason the
        # edge side re-shuffled every iteration). A periodic cut every
        # 8 hops keeps plan depth bounded for large-iters callers.
        if (_i + 1) % 8 == 0 and (_i + 1) < iters:
            ranks = truncate_lineage(ranks)
    return ranks.join(deg.select(F.col(src).alias("id"), "deg"), "id").select(
        "id", "deg", "rank"
    )


def _canonical_undirected(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Canonicalize any directed/duplicated edge list to the undirected
    simple graph: (a, b) with a = least, b = greatest, self-loops
    dropped, duplicates collapsed."""
    return (
        edges.select(F.least(src, dst).alias("a"), F.greatest(src, dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _triangle_relation(und: DataFrame) -> tuple[DataFrame, DataFrame]:
    """One row PER TRIANGLE ``(u, v1, v2)`` of a canonical undirected
    edge list (plus the degree table) via degree-ordered orientation —
    the shared core of :func:`triangle_counts` (per-vertex
    participation) and :func:`doulion_triangle_estimate` (global
    count on a sampled graph). ``und`` must already be canonical
    (:func:`_canonical_undirected`); each triangle appears exactly
    once, with ``u`` its minimum-rank corner."""
    deg = (
        und.select(F.col("a").alias("id"))
        .unionAll(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
        .transform(materialize_once)
    )
    ranked = (
        und.join(deg.select(F.col("id").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("id").alias("b"), F.col("deg").alias("db")), "b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = ranked.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
    ).transform(materialize_once)
    e1 = oriented.select(
        F.col("u"), F.col("v").alias("v1"), F.col("dv").alias("dv1")
    )
    e2 = oriented.select(
        F.col("u"), F.col("v").alias("v2"), F.col("dv").alias("dv2")
    )
    wedges = e1.join(e2, "u").filter(
        (F.col("dv1") < F.col("dv2"))
        | ((F.col("dv1") == F.col("dv2")) & (F.col("v1") < F.col("v2")))
    )
    closing = oriented.select(F.col("u").alias("v1"), F.col("v").alias("v2"))
    triangles = wedges.join(closing, ["v1", "v2"], "leftsemi").select(
        "u", "v1", "v2"
    )
    return triangles, deg


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle counts via degree-ordered edge orientation
    (the standard distributed algorithm; e.g. Suri & Vassilvitskii,
    "Counting Triangles and the Curse of the Last Reducer", WWW'11).

    ``edges`` is any directed/duplicated edge list; it is first
    canonicalized to the undirected simple graph (least/greatest +
    distinct, self-loops dropped). Each edge is then ORIENTED from the
    lower-rank endpoint to the higher, where rank is the total order
    (degree, id). Every triangle has exactly one vertex with two
    out-edges (its minimum-rank corner), so generating wedges only at
    out-degree pairs and closing them with one semi-join counts each
    triangle exactly once — no per-triangle double counting to divide
    away, and, critically for scale, wedge fan-out at a hub vertex is
    bounded by its OUT-degree, which orientation caps near the graph's
    arboricity instead of the raw degree. A celebrity node with 10^6
    neighbours generates ~0 wedges instead of 10^12.

    100 TB shape: three hash joins, all on vertex ids (shuffle
    partitioned by key, AQE-balanced); the canonical edge set is
    materialized once and reused by the degree pass, the orientation
    join, and the closing semi-join. Returns one row per vertex:
    ``id``, ``deg`` (undirected degree), ``tri`` (triangles the vertex
    participates in, 0 if none).
    """
    und = _canonical_undirected(edges).transform(materialize_once)
    triangles, deg = _triangle_relation(und)
    per_vertex = (
        triangles.select(
            F.explode(F.array(F.col("u"), F.col("v1"), F.col("v2"))).alias("id")
        )
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("tri"))
    )
    return deg.join(per_vertex, "id", "left").select(
        "id",
        "deg",
        F.coalesce(F.col("tri"), F.lit(0).cast("bigint")).alias("tri"),
    )


def _q_g_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle participation + local clustering structure over the
    trigram co-occurrence graph (same pruned inverted index as
    ``g_pagerank_simgraph``): docs sharing a mid-df trigram shingle
    are adjacent; triangles measure how CLIQUISH a doc's neighborhood
    is — near-duplicate families show up as dense triangle clusters
    while boilerplate hubs (high degree, low triangles) do not, which
    is the signal a curation pass uses to separate the two.
    """
    # shared edge builder: cap certified by the planted witness in
    # tests/test_cap_witness.py (a df=100 shingle cut at 64 while
    # POSTING_ABS_CAP keeps it, oracle hash-matched on the capped side)
    return triangle_counts(_cooccurrence_edges(spark, sf_dir, halved=True)).select(
        F.col("id").alias("doc_id"), "deg", "tri"
    )


#: DOULION sampling probability. 0.5 at fixture scale keeps the
#: hash-deterministic estimate tight enough for a 4σ bound with small
#: triangle counts; at a 100 TB corpus the operating point is p ≤ 0.1
#: (edge volume ×p, triangle work ×p³ — the whole point of the
#: operator). Deterministic Bernoulli via xxhash64(a, b, seed), NOT
#: rand(): re-execution under task retry must sample the same edges,
#: and the oracle contract needs a reproducible estimate.
DOULION_P = 0.5
DOULION_SEED = 10


def doulion_p_eff(p: float) -> float:
    """The sampling probability the 1e-4-resolution hash filter
    ACTUALLY realizes for a nominal ``p``: round(p·10⁴)/10⁴. Both the
    filter threshold and the 1/p³ estimator scale must use this one
    value (ADVICE r10 — scaling by nominal p while filtering at the
    quantized threshold is a small systematic bias for any p not
    representable at 1e-4, e.g. p=1/3)."""
    return round(p * 10_000) / 10_000


def _cooccurrence_edges(
    spark: SparkSession, sf_dir: str, halved: bool = False
) -> DataFrame:
    """Directed doc-pair edges of the GRAPH_DF_CAP-pruned trigram
    co-occurrence graph — the ONE shared builder for all three graph
    queries, so the cap certification (tests/test_cap_witness.py)
    covers every consumer and a future cap edit cannot diverge
    per-query (the round-8 bug was exactly a per-call-site cap
    divergence). abs_cap=GRAPH_DF_CAP (64, not POSTING_ABS_CAP=1000):
    a df-k shingle is a k-clique, so triangle work grows with df³
    where pair work grows with df² — the oracles prune at the same 64
    via GRAPH_DF_CAP_SQL (_PAIRS_CTES). Output is NOT deduplicated:
    the triangle consumers canonicalize downstream
    (least/greatest + distinct), pagerank adds its own .distinct().

    ``halved=True`` (VERDICT r15 #2b) emits each doc pair in ONE
    direction only (src < dst, a join-time filter): the self-join
    still produces both orders, but half the pair stream dies at the
    scan-side filter before the downstream canonicalize's Deduplicate
    exchange — a 2× cut of the triangle pipeline's dominant shuffle.
    Value-identical for undirected consumers (least/greatest was
    already collapsing the two orders); pagerank must NOT use it (its
    random walk needs both directions)."""
    from odoo_batch_processing_spark.operators.text import (
        GRAPH_DF_CAP,
        pruned_shingle_postings,
    )

    # with_tf=False (OPTIMIZATION r18): the pair join below ignores tf,
    # so the postings come as the distinct (doc_id, shingle) set —
    # no per-(doc, shingle) hash aggregate, and the tokenize+explode
    # pass is materialized once instead of re-running for the df
    # filter and both sides of the self-join (guide §1.2/§2.3).
    pruned, _n_docs = pruned_shingle_postings(
        spark, sf_dir, abs_cap=GRAPH_DF_CAP, with_tf=False
    )
    pruned = pruned.select("doc_id", "shingle")
    a = pruned.select("shingle", F.col("doc_id").alias("src"))
    b = pruned.select("shingle", F.col("doc_id").alias("dst"))
    keep = F.col("src") < F.col("dst") if halved else F.col("src") != F.col("dst")
    return a.join(b, "shingle").filter(keep).select("src", "dst")


def doulion_triangle_estimate(
    edges: DataFrame,
    p: float = DOULION_P,
    seed: int = DOULION_SEED,
    already_canonical: bool = False,
) -> DataFrame:
    """DOULION edge-sampled global triangle count (Tsourakakis,
    Kang, Miller & Faloutsos, "DOULION: Counting Triangles in Massive
    Graphs with a Coin", KDD'09): keep each undirected edge with
    probability ``p``, count triangles in the sparsified graph, scale
    by 1/p³. Unbiased; Var(T̂) = T·(1/p³ − 1) + 2k·(1/p − 1) where k
    is the number of triangle PAIRS sharing an edge (paper Lemma 2).

    100 TB shape: the sample is a scan-local filter on a hash of the
    edge key — no extra shuffle — so every downstream join/aggregate
    of the Θ(wedges) counting pass runs on a graph with p·|E| edges
    and p²-scaled wedge volume (each wedge = two independently
    sampled edges; surviving triangles scale p³). This is the
    approximate twin the
    exact :func:`triangle_counts` needs at corpora where even the
    df-capped wedge volume is the bottleneck (SCALE.md's triangle
    attribution names exactly this escape hatch).

    Returns ONE row: ``n_tri_sampled`` (exact count in the sampled
    graph), ``est`` (the 1/p³-scaled estimate, double).

    ``already_canonical=True`` skips the least/greatest+distinct pass
    for callers handing over an (a, b) relation that is canonical by
    construction (the catalog query reuses its materialized exact-pass
    edge set — no second Deduplicate shuffle)."""
    und = edges if already_canonical else _canonical_undirected(edges)
    # The hash filter quantizes p to 1e-4 resolution; the estimator
    # must scale by the probability ACTUALLY sampled at, not the
    # nominal p, or non-representable values (p=1/3 → 0.3333) carry a
    # systematic quantization bias on top of the truncation bias that
    # round() already fixes (ADVICE r10). p_eff is the one shared
    # constant for filter threshold AND 1/p³ scale.
    p_eff = doulion_p_eff(p)
    sampled = und.filter(
        F.pmod(F.xxhash64("a", "b", F.lit(seed)), F.lit(10_000))
        < F.lit(int(round(p_eff * 10_000)))
    )
    tri, _deg = _triangle_relation(sampled.transform(materialize_once))
    return tri.agg(F.count(F.lit(1)).alias("n_tri_sampled")).select(
        "n_tri_sampled",
        (F.col("n_tri_sampled") / F.lit(p_eff**3)).alias("est"),
    )


def _doulion_cert_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact certification scalars for the DOULION gate —
    ``(n_tri_exact, k_shared)`` with k = Σ_e C(t_e, 2) — computed ONCE
    per corpus and cached (``sinks.staged_once``, content-keyed on the
    documents table like every standing index).

    This is the r16→r17 decoupling (VERDICT r16 #3): both scalars are
    pure deterministic functions of the corpus, and re-enumerating the
    full exact triangle relation on every catalog invocation made the
    "estimator" cost ~1.35× the exact counter. In production the
    trusted exact count is exactly this kind of one-time audit
    artifact; the recurring estimator run reads two cached numbers.
    Explicit-schema read-back: the cache must load even if a future
    corpus yields zero triangles (1 row is always written, but the
    contract matches the index-read discipline)."""
    import os

    from odoo_batch_processing_spark.sources.sinks import staged_once

    def _build(d: str) -> None:
        und = _canonical_undirected(
            _cooccurrence_edges(spark, sf_dir, halved=True)
        ).transform(materialize_once)
        tri, _deg = _triangle_relation(und)
        tri = tri.transform(materialize_once)  # reused: T and the k incidence
        t_exact = tri.agg(F.count(F.lit(1)).alias("n_tri_exact"))
        # k = Σ_e C(t_e, 2): explode each triangle into its 3 canonical
        # edges, count triangles per edge, sum the pair counts
        tri_edges = tri.select(
            F.explode(
                F.array(
                    F.struct(
                        F.least("u", "v1").alias("ea"),
                        F.greatest("u", "v1").alias("eb"),
                    ),
                    F.struct(
                        F.least("u", "v2").alias("ea"),
                        F.greatest("u", "v2").alias("eb"),
                    ),
                    F.struct(
                        F.least("v1", "v2").alias("ea"),
                        F.greatest("v1", "v2").alias("eb"),
                    ),
                )
            ).alias("e")
        )
        k_shared = (
            tri_edges.groupBy("e")
            .agg(F.count(F.lit(1)).alias("t_e"))
            .agg(
                F.coalesce(
                    F.sum(F.col("t_e") * (F.col("t_e") - F.lit(1)) / F.lit(2)),
                    F.lit(0.0),
                ).alias("k_shared")
            )
        )
        t_exact.crossJoin(k_shared).coalesce(1).write.mode("overwrite").parquet(d)

    path = staged_once(
        "doulion-cert-scalars", os.path.join(sf_dir, "documents.parquet"), _build
    )
    return spark.read.schema("n_tri_exact bigint, k_shared double").parquet(path)


def _q_g_doulion_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOULION estimate vs exact count over the same GRAPH_DF_CAP
    trigram co-occurrence graph as ``g_triangle_counts``, under the
    x8 oracle contract (exact measures + an in-engine ``_ok``
    tolerance boolean; the estimate itself is hash-sample-determined
    and not DuckDB-replicable, so it rides inside the boolean).

    ``est_ok`` asserts the estimate sits within 4σ of the exact count
    using the paper's OWN variance — both terms: σ² = T·(1/p³ − 1) +
    2k·(1/p − 1) — plus a +8 additive floor so the bound is
    non-vacuous in the T≈0 regime. T and k come from the CACHED
    one-time exact audit (:func:`_doulion_cert_scalars`, VERDICT r16
    #3): the recurring catalog cost is the sampled pass alone — edge
    build, scan-local p-filter, triangle join on the p³-thinned graph
    — which is what an estimator should cost. Everything else is a
    1-row relation cross-joined (the q22/x8 free-scalar shape); no
    collect.

    Deterministic-miss procedure (ADVICE r10): the estimate is a
    FIXED hash sample, not a fresh random draw — a ~1-in-16k 4σ tail
    event at a new corpus/seed is permanent, not re-rollable by
    re-running. If this gate ever fails at a corpus where the exact
    count is trusted: (1) verify it is the tail case by computing
    |est − T|/σ by hand from this query's own outputs; (2) bump
    ``DOULION_SEED`` by +1 and record both seeds, both estimates and
    the z-scores in SCALE.md as the re-seed receipt; (3) a SECOND
    consecutive miss at the new seed is code, not luck — stop and
    debug. Do not widen the 4σ/+8 bound instead of re-seeding: the
    bound's tightness is what makes the contract informative."""
    cert = _doulion_cert_scalars(spark, sf_dir)
    und = _canonical_undirected(_cooccurrence_edges(spark, sf_dir, halved=True))
    est = doulion_triangle_estimate(
        und, p=DOULION_P, seed=DOULION_SEED, already_canonical=True
    )
    # variance at the REALIZED sampling probability (same p_eff the
    # filter and estimator use — ADVICE r10 quantization-bias fix)
    p = doulion_p_eff(DOULION_P)
    var = (
        F.col("n_tri_exact") * F.lit(1.0 / p**3 - 1.0)
        + F.lit(2.0) * F.col("k_shared") * F.lit(1.0 / p - 1.0)
    )
    return cert.crossJoin(est).select(
        "n_tri_exact",
        (
            F.abs(F.col("est") - F.col("n_tri_exact"))
            <= F.lit(4.0) * F.sqrt(var) + F.lit(8.0)
        ).alias("est_ok"),
    )


def _q_g_pagerank_simgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the trigram co-occurrence graph: docs
    are vertices, an (undirected) edge joins any two docs sharing a
    non-stop trigram shingle — the same pruned inverted index the
    sparse doc-cosine query builds (operators/text.py
    _q_x5_doc_sim_cosine: df ≥ 2 and df ≤ 5%-of-corpus). 3 damped
    iterations at d = 0.85; output is every connected doc with its
    degree and rank.
    """
    # shared builder (+ distinct: pagerank wants the simple directed
    # graph, not co-occurrence multiplicities)
    edges = _cooccurrence_edges(spark, sf_dir).distinct()
    # budget = 10^9 edge-iterations: ~6 minutes of one-core join work
    # per 32-core executor-equivalent — generous for the fixture ladder
    # (sf0.1 8×: |E| ≈ 10^6), a loud stop for a runaway corpus graph
    return pagerank(edges, iters=3, edge_budget=1_000_000_000).select(
        F.col("id").alias("doc_id"), "deg", "rank"
    )


QUERIES = {
    "g_pagerank_simgraph": _q_g_pagerank_simgraph,
    "g_triangle_counts": _q_g_triangle_counts,
    "g_doulion_triangles": _q_g_doulion_triangles,
}

# the SAME tokenization/shingle fragments the text module's oracles
# use — imported, not redefined, so the two stay in lockstep with
# pruned_shingle_postings
from odoo_batch_processing_spark.operators.text import (  # noqa: E402
    _TOKS,
    _TRIGRAMS_SQL,
    GRAPH_DF_CAP_SQL,
)

# one unrolled iteration of the fixed-point update (see pagerank());
# {prev} is the previous rank CTE name
_ITER_SQL = """
    SELECT e.dst AS id,
           CAST(0.15 AS DOUBLE) / n.n
           + CAST(0.85 AS DOUBLE)
             * (CAST(CAST(SUM(CAST(floor(p.rank / e.deg * 1e12) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12)
           AS rank
    FROM sym e JOIN {prev} p ON e.src = p.id CROSS JOIN n
    GROUP BY e.dst, n.n
"""

# shared CTE prefix: the pruned-shingle co-occurrence pair graph
# (kept in lockstep with pruned_shingle_postings via _TOKS/_TRIGRAMS_SQL)
_PAIRS_CTES = """
    doc_terms AS (
        SELECT doc_id, shingle, COUNT(1) AS tf
        FROM (
            SELECT doc_id, unnest({trigrams}) AS shingle
            FROM (SELECT doc_id, {toks} AS tk FROM documents)
        )
        GROUP BY doc_id, shingle
    ), keep AS (
        SELECT shingle FROM doc_terms GROUP BY shingle
        HAVING COUNT(1) >= 2
           AND COUNT(1) <= {df_cap}
    ), pruned AS (
        SELECT doc_id, shingle FROM doc_terms JOIN keep USING (shingle)
    ), pairs AS (
        SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
        FROM pruned a JOIN pruned b USING (shingle)
        WHERE a.doc_id <> b.doc_id
    )
""".format(trigrams=_TRIGRAMS_SQL, toks=_TOKS, df_cap=GRAPH_DF_CAP_SQL)

ORACLES = {
    # x8 contract: exact global count + literal TRUE for the in-engine
    # tolerance boolean (the hash-sampled estimate is engine-side only)
    "g_doulion_triangles": f"""
    WITH {_PAIRS_CTES},
    und AS (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM pairs WHERE src <> dst
    ), tri AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM und e1
        JOIN und e2 ON e1.b = e2.a
        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT CAST(COUNT(1) AS BIGINT) AS n_tri_exact, TRUE AS est_ok
    FROM tri
    """,
    "g_triangle_counts": f"""
    WITH {_PAIRS_CTES},
    und AS (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM pairs WHERE src <> dst
    ), deg AS (
        SELECT id, COUNT(1) AS deg
        FROM (SELECT a AS id FROM und UNION ALL SELECT b AS id FROM und)
        GROUP BY id
    ), tri AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM und e1
        JOIN und e2 ON e1.b = e2.a
        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    ), pv AS (
        SELECT id, COUNT(1) AS tri
        FROM (
            SELECT x AS id FROM tri
            UNION ALL SELECT y AS id FROM tri
            UNION ALL SELECT z AS id FROM tri
        )
        GROUP BY id
    )
    SELECT deg.id AS doc_id, deg.deg,
           CAST(COALESCE(pv.tri, 0) AS BIGINT) AS tri
    FROM deg LEFT JOIN pv USING (id)
    """,
    "g_pagerank_simgraph": f"""
    WITH doc_terms AS (
        SELECT doc_id, shingle, COUNT(1) AS tf
        FROM (
            SELECT doc_id, unnest({_TRIGRAMS_SQL}) AS shingle
            FROM (SELECT doc_id, {_TOKS} AS tk FROM documents)
        )
        GROUP BY doc_id, shingle
    ), keep AS (
        SELECT shingle FROM doc_terms GROUP BY shingle
        HAVING COUNT(1) >= 2
           AND COUNT(1) <= {GRAPH_DF_CAP_SQL}
    ), pruned AS (
        SELECT doc_id, shingle FROM doc_terms JOIN keep USING (shingle)
    ), pairs AS (
        SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
        FROM pruned a JOIN pruned b USING (shingle)
        WHERE a.doc_id <> b.doc_id
    ), deg AS (
        SELECT src AS id, COUNT(1) AS deg FROM pairs GROUP BY src
    ), sym AS (
        SELECT p.src, p.dst, d.deg FROM pairs p JOIN deg d ON p.src = d.id
    ), n AS (
        SELECT CAST(COUNT(1) AS DOUBLE) AS n FROM deg
    ), r0 AS (
        SELECT id, CAST(1 AS DOUBLE) / n.n AS rank FROM deg CROSS JOIN n
    ), r1 AS ({_ITER_SQL.format(prev="r0")}
    ), r2 AS ({_ITER_SQL.format(prev="r1")}
    ), r3 AS ({_ITER_SQL.format(prev="r2")}
    )
    SELECT r3.id AS doc_id, deg.deg, r3.rank
    FROM r3 JOIN deg ON deg.id = r3.id
    """,
}
