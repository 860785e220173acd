"""Triangle counting: brute-force cross-check and orientation bound.

PageRank (the other graph op) is covered by its unrolled-CTE oracle;
triangles get a direct Python cross-check here because the interesting
failure modes (double counting, orientation ties, isolated-from-
triangle vertices) are graph-structural, not SQL-dialect issues.
"""

from __future__ import annotations

import itertools
import random

from pyspark.sql import functions as F

from odoo_batch_processing_spark.operators.graph import triangle_counts


def _brute_force(edges: set[tuple[int, int]]) -> dict[int, int]:
    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    verts = sorted({v for e in und for v in e})
    tri: dict[int, int] = {v: 0 for v in verts}
    for x, y, z in itertools.combinations(verts, 3):
        if (x, y) in und and (y, z) in und and (x, z) in und:
            tri[x] += 1
            tri[y] += 1
            tri[z] += 1
    return tri


def test_triangle_counts_match_bruteforce(spark):
    rng = random.Random(7)
    n, m = 40, 220
    # directed, duplicated, self-loop-polluted input — the operator
    # must canonicalize before counting
    raw = [
        (rng.randrange(n), rng.randrange(n))
        for _ in range(m)
    ] + [(5, 5), (3, 3)]
    df = spark.createDataFrame(raw, "src bigint, dst bigint")
    got = {
        r["id"]: (r["deg"], r["tri"])
        for r in triangle_counts(df).collect()
    }
    expected_tri = _brute_force(set(raw))
    und = {(min(a, b), max(a, b)) for a, b in raw if a != b}
    for v, t in expected_tri.items():
        deg = sum(1 for e in und if v in e)
        assert got[v] == (deg, t), f"vertex {v}"
    assert set(got) == set(expected_tri)


def test_triangle_counts_tie_ranks(spark):
    # K4: every vertex has identical degree, so orientation falls back
    # to the id tie-break; each vertex sits in C(3,2)=3 triangles
    edges = [(a, b) for a, b in itertools.combinations(range(4), 2)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    rows = triangle_counts(df).collect()
    assert {r["id"]: r["tri"] for r in rows} == {0: 3, 1: 3, 2: 3, 3: 3}
    assert all(r["deg"] == 3 for r in rows)


def test_triangle_free_star_is_zero(spark):
    # star graph: the hub has high degree but zero triangles — and the
    # orientation means the hub (max rank) generates ZERO wedges
    edges = [(0, i) for i in range(1, 30)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    rows = triangle_counts(df).collect()
    assert all(r["tri"] == 0 for r in rows)
    assert {r["deg"] for r in rows} == {29, 1}


def test_edge_budget_raises(spark):
    # the fail-loud guard's FIRING side (§7.5: a guard certification
    # needs the guarded branch exercised, not just the pass-through)
    import pytest

    from odoo_batch_processing_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4) if a != b],
        "src bigint, dst bigint",
    )
    pinned = spark.sparkContext._jsc.getPersistentRDDs
    before = set(pinned().keys())
    with pytest.raises(ValueError, match="edge_budget"):
        pagerank(edges, iters=3, edge_budget=10)
    # the guard releases the edge and degree pins it took before raising
    assert set(pinned().keys()) == before
    # same graph under a sufficient budget completes
    assert pagerank(edges, iters=3, edge_budget=1000).count() == 4


def test_doulion_p1_equals_exact(spark):
    # with p=1.0 every edge survives the hash filter, so the "estimate"
    # must equal the exact global count — pins the sampler's estimator
    # wiring (scale factor, canonicalization) independent of chance
    from odoo_batch_processing_spark.operators.graph import (
        doulion_triangle_estimate,
    )

    rng = random.Random(11)
    raw = [(rng.randrange(30), rng.randrange(30)) for _ in range(150)]
    df = spark.createDataFrame(raw, "src bigint, dst bigint")
    exact_total = sum(_brute_force(set(raw)).values()) // 3
    row = doulion_triangle_estimate(df, p=1.0).collect()[0]
    assert row["n_tri_sampled"] == exact_total
    assert row["est"] == float(exact_total)


def test_doulion_deterministic_and_subsampling(spark):
    # hash-Bernoulli sampling: same seed → identical count across runs
    # (the oracle-contract requirement); p<1 samples a strict subset
    from odoo_batch_processing_spark.operators.graph import (
        doulion_triangle_estimate,
    )

    rng = random.Random(13)
    raw = [(rng.randrange(25), rng.randrange(25)) for _ in range(220)]
    df = spark.createDataFrame(raw, "src bigint, dst bigint")
    a = doulion_triangle_estimate(df, p=0.5, seed=10).collect()[0]
    b = doulion_triangle_estimate(df, p=0.5, seed=10).collect()[0]
    assert (a["n_tri_sampled"], a["est"]) == (b["n_tri_sampled"], b["est"])
    exact_total = sum(_brute_force(set(raw)).values()) // 3
    assert a["n_tri_sampled"] <= exact_total
    assert a["est"] == a["n_tri_sampled"] * 8.0  # 1/p³ at p=0.5


def test_doulion_p_eff_quantization(spark):
    """ADVICE r10: the 1e-4-resolution hash filter realizes
    round(p·10⁴)/10⁴, so the estimator must scale by that p_eff, not
    the nominal p — at p=1/3 the filter keeps hashes < 3333 (p_eff =
    0.3333) and scaling by 1/(1/3)³ = 27 instead of 1/0.3333³ ≈
    27.0081 is a permanent −0.03% bias."""
    from odoo_batch_processing_spark.operators.graph import (
        doulion_p_eff,
        doulion_triangle_estimate,
    )

    assert doulion_p_eff(0.5) == 0.5  # representable: no change
    assert doulion_p_eff(1 / 3) == 0.3333  # round, not truncate-to-0.3333̄
    assert doulion_p_eff(0.29999) == 0.3

    rng = random.Random(17)
    raw = [(rng.randrange(25), rng.randrange(25)) for _ in range(220)]
    df = spark.createDataFrame(raw, "src bigint, dst bigint")
    row = doulion_triangle_estimate(df, p=1 / 3, seed=10).collect()[0]
    # scale is exactly 1/p_eff³ — nominal 1/(1/3)³ would differ in the
    # 4th significant digit whenever n_tri_sampled > 0
    assert row["n_tri_sampled"] > 0  # witness on the scaled side
    assert row["est"] == row["n_tri_sampled"] / 0.3333**3


def test_doulion_cert_scalars_cached_and_correct(spark):
    """r17 decoupling (VERDICT r16 #3): the exact certification
    scalars (T, k) are a one-time per-corpus audit artifact. The
    cached values must equal a fresh enumeration of the same graph,
    and the schema must match the explicit read-back contract."""
    from tests.conftest import SF_SMOKE

    from odoo_batch_processing_spark.operators.graph import (
        _canonical_undirected,
        _cooccurrence_edges,
        _doulion_cert_scalars,
        _triangle_relation,
    )
    from pyspark.sql import functions as F

    cert = _doulion_cert_scalars(spark, SF_SMOKE)
    assert [(f.name, f.dataType.simpleString()) for f in cert.schema.fields] == [
        ("n_tri_exact", "bigint"),
        ("k_shared", "double"),
    ]
    row = cert.collect()
    assert len(row) == 1
    und = _canonical_undirected(_cooccurrence_edges(spark, SF_SMOKE, halved=True))
    tri, _deg = _triangle_relation(und)
    fresh_t = tri.count()
    assert row[0]["n_tri_exact"] == fresh_t
    assert row[0]["k_shared"] >= 0.0
