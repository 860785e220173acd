"""Planted-witness certification for the df caps (VERDICT r9 #1).

The fixture corpora never exercise the absolute df caps: max trigram
df at sf0.1 is 25, so every prior "certified at a scale where the cap
binds" claim was vacuous — engine and oracle agreed whether or not the
cap was applied, and the unfixed round-8 code (POSTING_ABS_CAP passed
to the graph queries) also hash-matched.  Rule (SURVEY §7.5): **a
cap/guard certification requires a witness row on the capped side of
the filter** — data the guard actually removes, such that the check
FAILS if either side stops applying the guard.

These tests plant that witness: a synthetic corpus where one trigram's
document frequency falls strictly between GRAPH_DF_CAP (64) and the
proportional 5 %-of-corpus term, so the ABSOLUTE cap is the binding
term and capped vs uncapped outputs genuinely differ.  They assert:

  (a) postings level — the hot shingle survives POSTING_ABS_CAP
      pruning and is dropped by GRAPH_DF_CAP pruning;
  (b) query level — both graph queries hash-match their
      GRAPH_DF_CAP_SQL DuckDB oracles on the planted corpus, AND the
      round-8 bug (building the graph from POSTING_ABS_CAP postings)
      makes the same comparison FAIL — i.e. this test would have
      caught it;
  (c) POSTING_ABS_CAP itself gets its own witness at a 25 k-doc
      corpus where 5 %·n = 1250 > 1000, with a df-1100 shingle on the
      capped side;
  (d) DECONTAM_HOT_CAP gets a WIRING witness at a test-injected cap=5
      (the production 100k ceiling needs an unaffordable corpus; the
      §7.5 pattern certifies the engine/oracle parameterization at any
      shared constant) — for BOTH curation queries, because their cap
      populations differ (all documents vs kept corpus side) and the
      planted corpus makes the two populations give OPPOSITE verdicts
      on the same hot shingle.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from odoo_batch_processing_spark.operators.graph import (
    ORACLES as GRAPH_ORACLES,
    _q_g_pagerank_simgraph,
    _q_g_triangle_counts,
    triangle_counts,
)
from odoo_batch_processing_spark.operators.text import (
    GRAPH_DF_CAP,
    POSTING_ABS_CAP,
    pruned_shingle_postings,
)
from odoo_batch_processing_spark.oracle import compare
from tests.planted import duck_view, plant_corpus

#: planted corpus shape: hot-df strictly inside (GRAPH_DF_CAP, 5%·n]
#: so the absolute cap — not the proportional term — decides its fate
N_DOCS = 3000
HOT_DF = 100  # 64 < 100 <= ceil(0.05 * 3000) = 150
N_GROUPS, GROUP_SIZE = 10, 4  # df=4 cliques that survive BOTH caps

HOT_SHINGLE = "hotA hotB hotC"


@pytest.fixture(scope="module")
def planted_dir(tmp_path_factory) -> str:
    """A corpus directory whose documents.parquet plants one hot
    trigram (df=HOT_DF) plus ten df-4 clique trigrams; filler docs are
    single-token (no trigram) and exist only to push the 5 % term
    above HOT_DF."""
    rows: list[tuple[int, str]] = []
    doc_id = 0
    for i in range(HOT_DF):
        # trigram 1 = HOT_SHINGLE (df=HOT_DF); the per-doc suffix makes
        # every other trigram df=1 (pruned by the bilateral df >= 2)
        rows.append((doc_id, f"{HOT_SHINGLE} u{i} v{i}"))
        doc_id += 1
    for g in range(N_GROUPS):
        for j in range(GROUP_SIZE):
            rows.append((doc_id, f"g{g}a g{g}b g{g}c m{g}x{j}"))
            doc_id += 1
    while len(rows) < N_DOCS:
        rows.append((doc_id, f"f{doc_id}"))
        doc_id += 1
    return plant_corpus(tmp_path_factory.mktemp("planted_cap"), rows)


@pytest.fixture(scope="module")
def planted_duck(planted_dir):
    return duck_view(planted_dir)


def _distinct_shingles(spark, sf_dir: str, abs_cap: int) -> set[str]:
    pruned, n_docs = pruned_shingle_postings(spark, sf_dir, abs_cap=abs_cap)
    assert n_docs == N_DOCS
    return {r["shingle"] for r in pruned.select("shingle").distinct().collect()}


def test_graph_cap_binding_term_and_postings_witness(spark, planted_dir):
    # the witness must sit where the ABSOLUTE cap is the binding term:
    # GRAPH_DF_CAP < HOT_DF <= 5%·n <= POSTING_ABS_CAP
    import math

    prop = max(2, int(math.ceil(0.05 * N_DOCS)))
    assert GRAPH_DF_CAP < HOT_DF <= prop <= POSTING_ABS_CAP

    cosine_side = _distinct_shingles(spark, planted_dir, POSTING_ABS_CAP)
    graph_side = _distinct_shingles(spark, planted_dir, GRAPH_DF_CAP)
    assert HOT_SHINGLE in cosine_side, "hot shingle must survive the cosine cap"
    assert HOT_SHINGLE not in graph_side, "hot shingle must be CUT by the graph cap"
    # the clique shingles (df=4) survive both caps — the capped-side
    # graph is non-trivial, not empty-by-construction
    assert {f"g{g}a g{g}b g{g}c" for g in range(N_GROUPS)} <= graph_side <= cosine_side


def _edges_from(spark, sf_dir: str, abs_cap: int):
    pruned, _ = pruned_shingle_postings(spark, sf_dir, abs_cap=abs_cap)
    a = pruned.select("shingle", F.col("doc_id").alias("src"))
    b = pruned.select("shingle", F.col("doc_id").alias("dst"))
    return (
        a.join(b, "shingle")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
    )


def test_triangle_query_hash_matches_oracle_where_cap_binds(
    spark, planted_dir, planted_duck
):
    res = compare(
        "g_triangle_counts[planted]",
        _q_g_triangle_counts(spark, planted_dir),
        planted_duck,
        GRAPH_ORACLES["g_triangle_counts"],
    )
    assert res.ok, str(res)
    # and the cap changed the answer: uncapped (round-8 bug shape,
    # POSTING_ABS_CAP postings) disagrees with the capped oracle —
    # i.e. THIS comparison catches the bug this test exists to prevent
    buggy = triangle_counts(_edges_from(spark, planted_dir, POSTING_ABS_CAP)).select(
        F.col("id").alias("doc_id"), "deg", "tri"
    )
    res_buggy = compare(
        "g_triangle_counts[planted,uncapped]",
        buggy,
        planted_duck,
        GRAPH_ORACLES["g_triangle_counts"],
    )
    assert not res_buggy.ok, "uncapped engine output must MISMATCH the capped oracle"
    # quantify the witness: the K100 hot clique alone carries
    # 3·C(100,3) triangle participations the capped graph must not see
    tri_capped = (
        _q_g_triangle_counts(spark, planted_dir)
        .agg(F.sum("tri").alias("s"))
        .collect()[0]["s"]
    )
    tri_uncapped = buggy.agg(F.sum("tri").alias("s")).collect()[0]["s"]
    expect_clique = 3 * (HOT_DF * (HOT_DF - 1) * (HOT_DF - 2) // 6)
    assert tri_uncapped - tri_capped == expect_clique
    assert tri_capped == 3 * N_GROUPS * 4  # ten K4s: 4 vertices × 3 triangles


def test_pagerank_query_hash_matches_oracle_where_cap_binds(
    spark, planted_dir, planted_duck
):
    res = compare(
        "g_pagerank_simgraph[planted]",
        _q_g_pagerank_simgraph(spark, planted_dir),
        planted_duck,
        GRAPH_ORACLES["g_pagerank_simgraph"],
    )
    assert res.ok, str(res)
    # witness on the vertex set itself: hot docs are isolated once the
    # cap cuts their only shared shingle, so they must be ABSENT
    ids = {
        r["doc_id"]
        for r in _q_g_pagerank_simgraph(spark, planted_dir)
        .select("doc_id")
        .collect()
    }
    assert ids == set(range(HOT_DF, HOT_DF + N_GROUPS * GROUP_SIZE))


@pytest.fixture(scope="module")
def hot_bucket_dir(tmp_path_factory) -> str:
    """A corpus with one 1100-doc bucket — above HOT_BUCKET_CAP=1000 at
    the PRODUCTION constant: 1100 docs with identical text (identical
    shingle sets → identical minhash signatures → every band bucket
    holds all 1100) plus one genuine near-dup pair in a 2-doc bucket."""
    rows = [(i, "h1 h2 h3 h4") for i in range(1100)]
    rows += [(1100, "p1 p2 p3 p4"), (1101, "p1 p2 p3 p4")]
    return plant_corpus(tmp_path_factory.mktemp("planted_hot_bucket"), rows)


@pytest.fixture(scope="module")
def hot_bucket_duck(hot_bucket_dir):
    return duck_view(hot_bucket_dir)


def test_hot_bucket_cap_witness_minhash(spark, hot_bucket_dir, hot_bucket_duck):
    """HOT_BUCKET_CAP at its production value (1000), engine AND
    oracle: the round-10 sweep found the minhash/jaccard/neardup/
    containment oracles carried NO cap mirror (only simhash's QUALIFY
    did), so engine and oracle agreed only while no fixture bucket
    exceeded the cap. This corpus puts 1100 docs in every band bucket:
    the capped pipeline must report exactly the one genuine pair, the
    uncapped pipeline reports C(1100,2)+1 — and both the engine and
    the (now QUALIFY-mirrored) oracle must sit on the capped side."""
    from odoo_batch_processing_spark.operators.dedup import (
        HOT_BUCKET_CAP,
        ORACLES as DEDUP_ORACLES,
        _doc_shingle_sets,
        _q_x3_minhash_lsh,
        lsh_candidate_pairs,
        minhash_band_keys,
    )

    bk = minhash_band_keys(_doc_shingle_sets(spark, hot_bucket_dir))
    max_bucket = (
        bk.groupBy("band", "band_key")
        .count()
        .agg(F.max("count").alias("m"))
        .collect()[0]["m"]
    )
    assert max_bucket == 1100 > HOT_BUCKET_CAP  # witness row on the capped side

    res = compare(
        "x3_minhash_lsh[planted]",
        _q_x3_minhash_lsh(spark, hot_bucket_dir),
        hot_bucket_duck,
        DEDUP_ORACLES["x3_minhash_lsh"],
    )
    assert res.ok, str(res)
    assert res.spark_rows == 1  # only the genuine 2-doc bucket pairs
    # lifting the ceiling floods the output — the cap changed the answer
    uncapped = lsh_candidate_pairs(bk, cap=10**9).count()
    assert uncapped == 1100 * 1099 // 2 + 1


def test_hot_bucket_cap_witness_ngram_jaccard(spark, hot_bucket_dir, hot_bucket_duck):
    from odoo_batch_processing_spark.operators.dedup import (
        ORACLES as DEDUP_ORACLES,
        _doc_shingles,
        _q_x3_ngram_jaccard,
        ngram_jaccard_pairs,
    )

    res = compare(
        "x3_ngram_jaccard[planted]",
        _q_x3_ngram_jaccard(spark, hot_bucket_dir),
        hot_bucket_duck,
        DEDUP_ORACLES["x3_ngram_jaccard"],
    )
    assert res.ok, str(res)
    assert res.spark_rows == 1
    uncapped = ngram_jaccard_pairs(
        _doc_shingles(spark, hot_bucket_dir), cap=10**9
    ).count()
    assert uncapped == 1100 * 1099 // 2 + 1


def test_hot_bucket_cap_witness_incremental_index(
    spark, hot_bucket_dir, hot_bucket_duck, monkeypatch, tmp_path
):
    """The THIRD capped engine path at the production constant: the
    incremental probe's scan-local ``bucket_n <= HOT_BUCKET_CAP``
    filter on the write-time index (probe_standing_index), whose
    oracle mirrors the cap on the a-side only. The planted corpus's
    top decile (doc_id > 990) contains both hot docs and the genuine
    pair, so an unfiltered index join would flood with hot
    candidates; the capped engine and the capped oracle agree on
    exactly the one pair."""
    from odoo_batch_processing_spark.operators.dedup import (
        HOT_BUCKET_CAP,
        ORACLES as DEDUP_ORACLES,
        _q_x3_incremental_neardup,
        ensure_minhash_index,
    )
    from odoo_batch_processing_spark.sources import sinks

    # keep the throwaway corpus's write-time index out of the real
    # .scratch (keyed- dirs are sweep-exempt and this key never recurs)
    monkeypatch.setattr(sinks, "_SCRATCH", str(tmp_path))

    index = ensure_minhash_index(spark, hot_bucket_dir)
    max_bucket = index.agg(F.max("bucket_n").alias("m")).collect()[0]["m"]
    assert max_bucket == 1100 > HOT_BUCKET_CAP  # witness on the capped side

    res = compare(
        "x3_incremental_neardup[planted]",
        _q_x3_incremental_neardup(spark, hot_bucket_dir),
        hot_bucket_duck,
        DEDUP_ORACLES["x3_incremental_neardup"],
    )
    assert res.ok, str(res)
    assert res.spark_rows == 1
    # without the bucket_n filter the same probe floods: every new-
    # batch hot doc pairs with every lower-id hot doc in the index
    new_hot = index.filter(
        (F.col("bucket_n") > HOT_BUCKET_CAP) & (F.col("doc_id") > 990)
    ).select("doc_id").distinct().count()
    assert new_hot > 0  # hot docs ARE in the probe decile


def test_posting_abs_cap_witness(spark, tmp_path_factory):
    """POSTING_ABS_CAP=1000's own capped-side witness: a 25 k-doc
    corpus (5 %·n = 1250 > 1000) with a df-1100 shingle — dropped by
    the production cap, kept when the absolute ceiling is lifted, so
    the absolute term is provably the one doing the cutting."""
    n, hot_df = 25_000, 1100
    rows = [(i, f"pA pB pC u{i} v{i}") for i in range(hot_df)]
    rows += [(i, f"f{i}") for i in range(hot_df, n)]
    d = plant_corpus(tmp_path_factory.mktemp("planted_posting_cap"), rows)

    import math

    prop = max(2, int(math.ceil(0.05 * n)))
    assert POSTING_ABS_CAP < hot_df <= prop

    pruned_prod, n_docs = pruned_shingle_postings(spark, str(d))
    assert n_docs == n
    kept_prod = {
        r["shingle"] for r in pruned_prod.select("shingle").distinct().collect()
    }
    pruned_lifted, _ = pruned_shingle_postings(spark, str(d), abs_cap=10**9)
    kept_lifted = {
        r["shingle"] for r in pruned_lifted.select("shingle").distinct().collect()
    }
    assert "pA pB pC" not in kept_prod, "df=1100 must be cut by the 1000 ceiling"
    assert "pA pB pC" in kept_lifted, "without the ceiling the 5% term keeps it"


# ---------------------------------------------------------------------------
# DECONTAM_HOT_CAP wiring witness (VERDICT r10 #1)
# ---------------------------------------------------------------------------

#: test-injected cap — the §7.5 pattern certifies the WIRING at any
#: shared constant; a corpus where the production 100k ceiling binds
#: is beyond unit-test budget, a cap-5 one is ~30 docs
DECONTAM_TEST_CAP = 5

_HOT_A = "ha1 ha2 ha3 ha4 ha5"  # all-docs df 9 > 5; kept-corpus df 3 <= 5
_HOT_B = "hb1 hb2 hb3 hb4 hb5"  # all-docs df 13 > 5; kept-corpus df 6 > 5
_GENUINE = "ca1 ca2 ca3 ca4 ca5"  # df 2 everywhere — survives both caps


def _gated_text(uid: str, window: str | None = None) -> str:
    """20 distinct tokens passing every quality gate (stopword 'the',
    mean word length in range, zero repetition), with an optional
    planted 5-token window whose shingle is the ONLY one the doc
    shares with anything (every other 5-gram touches a uid token)."""
    pre = [f"{uid}p{k}" for k in range(8)]
    mid = window.split() if window else [f"{uid}m{k}" for k in range(5)]
    suf = [f"{uid}s{k}" for k in range(6)] + ["the"]
    toks = pre + mid + suf
    assert len(toks) == 20
    return " ".join(toks)


@pytest.fixture(scope="module")
def decontam_dir(tmp_path_factory):
    """Corpus where cap=5 binds DIFFERENTLY in the two cap
    populations: hotA sits over the cap in the all-documents count
    (x9_decontaminate's population) but UNDER it in the kept-corpus
    count (x9_curation_pipeline's), hotB is over in both, and one
    genuine contaminated doc survives both — so the two queries give
    different hotA verdicts and a population-swapped mirror fails."""
    from odoo_batch_processing_spark.operators.curation import (
        _HASH_MOD,
        _KNUTH,
        BENCH_SOURCE,
    )

    kept_pool = iter(i for i in range(500) if (i * _KNUTH) % _HASH_MOD % 100 < 50)
    drop_pool = iter(i for i in range(500) if (i * _KNUTH) % _HASH_MOD % 100 >= 50)
    ids = {
        "hotA_kept": [next(kept_pool) for _ in range(3)],
        "hotA_drop": [next(drop_pool) for _ in range(5)],
        "hotB_kept": [next(kept_pool) for _ in range(6)],
        "hotB_drop": [next(drop_pool) for _ in range(6)],
    }
    ids["genuine"] = [next(kept_pool)]
    ids["filler"] = [next(kept_pool) for _ in range(4)]
    ids["bench"] = [next(drop_pool)]  # drop-side: never enters `kept`

    rows = [
        (i, _gated_text(f"a{i}", _HOT_A))
        for i in ids["hotA_kept"] + ids["hotA_drop"]
    ]
    rows += [
        (i, _gated_text(f"b{i}", _HOT_B))
        for i in ids["hotB_kept"] + ids["hotB_drop"]
    ]
    rows += [(i, _gated_text(f"g{i}", _GENUINE)) for i in ids["genuine"]]
    rows += [(i, _gated_text(f"f{i}")) for i in ids["filler"]]
    bench_toks = (
        ["w0", "w1", "w2"] + _HOT_A.split() + ["w3", "w4", "w5"]
        + _HOT_B.split() + ["w6", "w7", "w8"] + _GENUINE.split() + ["w9"]
    )
    rows += [(i, " ".join(bench_toks), BENCH_SOURCE) for i in ids["bench"]]
    d = plant_corpus(tmp_path_factory.mktemp("planted_decontam"), rows)
    return d, ids


@pytest.fixture(scope="module")
def decontam_duck(decontam_dir):
    return duck_view(decontam_dir[0])


def test_decontam_hot_cap_witness_decontaminate(spark, decontam_dir, decontam_duck):
    """x9_decontaminate at cap=5: the all-documents population counts
    hotA at 9 > 5, so BOTH hot shingles are cut and only the genuine
    pair survives; lifting the cap floods 21 rows; the uncapped engine
    output mismatches the capped oracle (the r8 bug shape fails)."""
    from odoo_batch_processing_spark.operators.curation import (
        _contam_sql,
        _q_x9_decontaminate,
    )

    d, ids = decontam_dir
    res = compare(
        "x9_decontaminate[planted,cap5]",
        _q_x9_decontaminate(spark, d, cap=DECONTAM_TEST_CAP),
        decontam_duck,
        _contam_sql(DECONTAM_TEST_CAP),
    )
    assert res.ok, str(res)
    assert res.spark_rows == 1  # only the genuine doc is flagged
    flagged = {
        r["doc_id"]
        for r in _q_x9_decontaminate(spark, d, cap=DECONTAM_TEST_CAP).collect()
    }
    assert flagged == set(ids["genuine"])  # hotA docs NOT flagged here
    # capped != uncapped: every hot doc floods back without the cap
    uncapped = _q_x9_decontaminate(spark, d, cap=10**9)
    assert uncapped.count() == 8 + 12 + 1
    res_buggy = compare(
        "x9_decontaminate[planted,uncapped]",
        uncapped,
        decontam_duck,
        _contam_sql(DECONTAM_TEST_CAP),
    )
    assert not res_buggy.ok, "uncapped engine must MISMATCH the capped oracle"


def test_decontam_hot_cap_witness_pipeline(spark, decontam_dir, decontam_duck):
    """x9_curation_pipeline at cap=5: the kept-corpus population
    counts hotA at 3 <= 5, so hotA SURVIVES the cap here, its kept
    docs are flagged contaminated and dropped — the opposite hotA
    verdict from x9_decontaminate on the same corpus, which is
    exactly the population asymmetry the mirror must reproduce
    (curation._pipeline_oracle_sql counts the kept corpus side only;
    an all-documents mirror would cut hotA and wrongly keep its
    docs)."""
    from odoo_batch_processing_spark.operators.curation import (
        _pipeline_oracle_sql,
        _q_x9_curation_pipeline,
    )

    d, ids = decontam_dir
    res = compare(
        "x9_curation_pipeline[planted,cap5]",
        _q_x9_curation_pipeline(spark, d, cap=DECONTAM_TEST_CAP),
        decontam_duck,
        _pipeline_oracle_sql(DECONTAM_TEST_CAP),
    )
    assert res.ok, str(res)
    kept_ids = {
        r["doc_id"]
        for r in _q_x9_curation_pipeline(spark, d, cap=DECONTAM_TEST_CAP).collect()
    }
    # hotB (over the kept-population cap) is NOT decontaminated and
    # stays; hotA (under it) IS decontaminated and drops; the genuine
    # doc drops; fillers stay
    assert kept_ids == set(ids["hotB_kept"]) | set(ids["filler"])
    # the asymmetry precondition, asserted not narrated: hotA is over
    # the cap in the all-docs population and under it in kept-corpus
    all_docs_hotA = decontam_duck.execute(
        "SELECT COUNT(*) FROM documents WHERE text LIKE '%ha1 ha2 ha3 ha4 ha5%'"
    ).fetchone()[0]
    assert all_docs_hotA == 9 > DECONTAM_TEST_CAP >= len(ids["hotA_kept"])
    # capped != uncapped: without the cap hotB is also flagged and the
    # keep-set shrinks to the fillers; that engine output mismatches
    # the capped oracle
    uncapped = _q_x9_curation_pipeline(spark, d, cap=10**9)
    assert {r["doc_id"] for r in uncapped.collect()} == set(ids["filler"])
    res_buggy = compare(
        "x9_curation_pipeline[planted,uncapped]",
        uncapped,
        decontam_duck,
        _pipeline_oracle_sql(DECONTAM_TEST_CAP),
    )
    assert not res_buggy.ok, "uncapped engine must MISMATCH the capped oracle"
