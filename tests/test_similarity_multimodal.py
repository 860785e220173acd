"""M3 unit tests: ANN semantics, near-dup recall on planted dups,
multimodal decode determinism and the stubbed real-decoder path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_CORRECT, SF_SMOKE


def test_ann_topk_selfmatch_excluded_and_ranked(spark):
    from odoo_batch_processing_spark.operators.similarity import ann_topk
    from odoo_batch_processing_spark.sources.loader import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    out = ann_topk(emb.filter(F.col("vec_id") < 2), emb, k=5).collect()
    assert len(out) == 10
    for r in out:
        assert r["neighbor_id"] != r["query_id"]
        assert -1.0001 <= r["cos_sim"] <= 1.0001
    ranks = sorted(r["rank"] for r in out if r["query_id"] == 0)
    assert ranks == [1, 2, 3, 4, 5]
    # scores non-increasing with rank
    per_q = sorted((r["rank"], r["cos_sim"]) for r in out if r["query_id"] == 0)
    assert all(per_q[i][1] >= per_q[i + 1][1] for i in range(len(per_q) - 1))


def test_minhash_lsh_finds_planted_neardups(spark):
    """The sf0.01 fixture plants ~25 near-dup pairs (jaccard ≥ 0.8);
    MinHash-LSH with 4 bands × 3 rows must recall high-jaccard pairs
    (P[miss] = (1-s^3)^4 ≈ 0.2% at s=0.98)."""
    from odoo_batch_processing_spark.operators.dedup import (
        _doc_shingle_sets,
        _doc_shingles,
        lsh_candidate_pairs,
        minhash_band_keys,
        ngram_jaccard_pairs,
    )

    sf = "/root/testdata/sf0.01"
    doc_sh = _doc_shingles(spark, sf).cache()
    truth = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(doc_sh, threshold=0.9).collect()
    }
    cand = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(
            minhash_band_keys(_doc_shingle_sets(spark, sf))
        ).collect()
    }
    assert truth, "fixture should contain planted near-dups"
    missed = truth - cand
    assert not missed, f"LSH missed high-jaccard pairs: {missed}"


def test_simhash_neardups_cover_jaccard_dups(spark):
    from odoo_batch_processing_spark.operators import dedup as D
    from odoo_batch_processing_spark.sources.loader import load_table

    sf = "/root/testdata/sf0.01"
    docs = load_table(spark, sf, "documents")
    doc_tokens = docs.select("doc_id", F.explode(D.tokens(F.col("text"))).alias("tok"))
    pairs = D.simhash_neardup_pairs(D.simhash_expr(doc_tokens))
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    truth = {
        (r["doc_a"], r["doc_b"])
        for r in D.ngram_jaccard_pairs(_cached_sh(spark, sf), threshold=0.98).collect()
    }
    # near-identical docs must land within hamming 3
    assert truth <= got, f"simhash missed near-identical pairs: {truth - got}"


def _cached_sh(spark, sf):
    from odoo_batch_processing_spark.operators.dedup import _doc_shingles

    return _doc_shingles(spark, sf)


def test_decode_media_deterministic(spark):
    from odoo_batch_processing_spark.operators.multimodal import attach_binary, decode_media
    from odoo_batch_processing_spark.sources.loader import load_table

    docs = load_table(spark, SF_SMOKE, "documents").limit(20)
    media = attach_binary(docs)
    a = {r["doc_id"]: (r["byte_sum"], tuple(r["histogram"])) for r in decode_media(media).collect()}
    b = {r["doc_id"]: (r["byte_sum"], tuple(r["histogram"])) for r in decode_media(media).collect()}
    assert a == b  # Arrow-batched fake decode is deterministic
    one = next(iter(a.values()))
    assert sum(one[1]) > 0  # histogram bins sum to n_bytes
    # byte_sum consistent with payload length times plausible byte values
    assert one[0] > 0


def test_decode_media_real_decoder_stubbed(spark):
    from odoo_batch_processing_spark.operators.multimodal import attach_binary, decode_media
    from odoo_batch_processing_spark.sources.loader import load_table

    docs = load_table(spark, SF_SMOKE, "documents").limit(1)
    with pytest.raises(NotImplementedError, match="decoding libraries"):
        decode_media(attach_binary(docs), real_decoder=True)


def test_sample_frames_stride(spark):
    from odoo_batch_processing_spark.operators.multimodal import attach_binary, sample_frames
    from odoo_batch_processing_spark.sources.loader import load_table

    docs = load_table(spark, SF_SMOKE, "documents").limit(30)
    media = attach_binary(docs)
    out = sample_frames(media, frame_bytes=64, stride=4)
    for r in out.collect():
        # frames are the every-4th 64-byte slices; all non-empty
        assert r["n_sampled"] == len(r["frames"])
        assert all(len(fr) > 0 for fr in r["frames"])


def test_kmeans_cells_cover_all_vectors(spark):
    from odoo_batch_processing_spark.operators.similarity import (
        K_CELLS,
        kmeans_medoid_cells,
        _unit,
    )
    from odoo_batch_processing_spark.sources.loader import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    n = emb.count()
    unit = _unit(emb, "vec_id", "uv", "vec_id", "embedding")
    final = kmeans_medoid_cells(unit)
    assert final.count() == n                       # every vector assigned once
    cells = [r["cell"] for r in final.select("cell").distinct().collect()]
    assert 1 <= len(cells) <= K_CELLS
    # centroids are medoids: each cell id is a member vec_id
    members = {r["vec_id"] for r in final.select("vec_id").collect()}
    assert set(cells) <= members


def test_ivf_indexed_multiprobe_prunes_and_matches_oracle(spark):
    """The write-time IVF index probe (nprobe=2) must (a) return exactly
    its DuckDB oracle's rows at sf0.01, which score the same two cells
    by a full scan, and (b) physically prune: the exploded probe set
    must become a runtime partition filter on the cell column (dynamic
    partition pruning from the broadcast query-set join), not list
    every cell= directory."""
    from odoo_batch_processing_spark.operators.similarity import (
        ORACLES,
        _q_x4_ivf_indexed_multiprobe,
    )
    from odoo_batch_processing_spark.oracle import compare, duckdb_connection

    sf = SF_CORRECT
    indexed = _q_x4_ivf_indexed_multiprobe(spark, sf)
    res = compare(
        "x4_ivf_indexed_multiprobe",
        indexed,
        duckdb_connection(sf),
        ORACLES["x4_ivf_indexed_multiprobe"],
    )
    assert res.ok and res.spark_rows, str(res)

    plan = indexed._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), (
        "probe scan should carry a dynamic partition-pruning filter on "
        "the cell partition column:\n" + plan[:2000]
    )


def test_ivf_probe_cells_invariants(spark):
    """nprobe=1 is exactly the single cell; nprobe=2 adds one distinct
    in-range cell differing by exactly one quantizer bit."""
    from odoo_batch_processing_spark.operators.similarity import (
        ivf_bucket,
        ivf_probe_cells,
    )
    from odoo_batch_processing_spark.sources.loader import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings").limit(200)
    rows = emb.select(
        ivf_bucket(F.col("embedding")).alias("cell"),
        ivf_probe_cells(F.col("embedding"), nprobe=1).alias("p1"),
        ivf_probe_cells(F.col("embedding"), nprobe=2).alias("p2"),
        ivf_probe_cells(F.col("embedding"), nprobe=4).alias("p4"),
    ).collect()
    assert rows
    for r in rows:
        assert r["p1"] == [r["cell"]]
        assert r["p2"][0] == r["cell"] and len(r["p2"]) == 2
        assert len(set(r["p4"])) == 4  # all single-bit flips distinct
        for alt in r["p2"][1:] + r["p4"][1:]:
            assert 0 <= alt < 8
            assert bin(alt ^ r["cell"]).count("1") == 1


def test_ivf_probe_cells_nprobe_bounds():
    from pyspark.sql import functions as F

    from odoo_batch_processing_spark.operators.similarity import ivf_probe_cells

    with pytest.raises(ValueError):
        ivf_probe_cells(F.col("v"), bits=3, nprobe=5)
    with pytest.raises(ValueError):
        ivf_probe_cells(F.col("v"), bits=3, nprobe=0)


def test_multiprobe_recall_at_least_single_probe(spark):
    """nprobe=2 must dominate single-probe per query and strictly lift
    aggregate recall@10 on the fixture. Both depths probe the standing
    sign-bit index; brute force (ann_topk) is the ground truth."""
    from collections import Counter

    from odoo_batch_processing_spark.operators.similarity import (
        N_QUERIES,
        TOP_K,
        ann_topk,
        ivf_index_probe_topk,
    )
    from odoo_batch_processing_spark.sources.loader import load_table

    sf = SF_CORRECT
    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)

    def pairs(df):
        return {(r["query_id"], r["neighbor_id"]) for r in df.collect()}

    truth = pairs(ann_topk(queries, emb))
    qids = sorted({q for q, _ in truth})
    recall = {}
    for nprobe in (1, 2):
        got = pairs(ivf_index_probe_topk(spark, sf, queries, nprobe=nprobe)) & truth
        hits = Counter(q for q, _ in got)
        recall[nprobe] = [hits[q] / TOP_K for q in qids]
    assert qids
    assert all(mp >= sp for sp, mp in zip(recall[1], recall[2]))
    assert sum(recall[2]) > sum(recall[1])


def test_trained_ivf_recall_floor(spark):
    """The flagship ANN operating point — trained medoid cells,
    nprobe=2 — must hold mean recall@10 ≥ 0.7 on the fixture (measured
    0.94 at sf0.01). A quantizer or probe regression that silently
    degrades the trained chain below the floor fails here even though
    the oracle (which only checks cross-engine equality) would stay
    green."""
    from odoo_batch_processing_spark.operators.similarity import (
        _q_x4_ivf_trained_recall,
    )

    rows = _q_x4_ivf_trained_recall(spark, "/root/testdata/sf0.01").collect()
    assert rows
    mean_recall = sum(r["recall"] for r in rows) / len(rows)
    assert mean_recall >= 0.7, f"trained IVF mean recall@10 = {mean_recall}"


def test_mm_neardup_planted_pair_survives_quantization(spark):
    """Recall certification: a payload perturbed by ONE byte must still
    be found as a media near-dup candidate. A single exact 48-bit
    quantized-histogram signature loses such pairs whenever the edit
    crosses a quantization boundary; the stream-simhash banding is
    EXACT for hamming <= HAMMING_MAX(=3) <
    bands(=4), so the pair below — whose codes provably DIFFER
    (hamming > 0, i.e. any exact-signature match would drop it) — is
    structurally guaranteed a shared band."""
    from pyspark.sql import functions as F

    from odoo_batch_processing_spark.operators.dedup import HAMMING_MAX
    from odoo_batch_processing_spark.operators.multimodal import (
        attach_binary,
        mm_neardup_pairs,
        mm_stream_fingerprints,
    )

    base = (
        "the quick brown fox jumps over the lazy dog and keeps running through "
        "the quiet forest while the river bends softly past the old stone mill "
        "under a pale morning sky full of slow drifting clouds"
    )
    pert = base[:100] + "q" + base[101:]  # one-byte edit, same length
    assert base != pert
    # doc_ids 0 and 3: same modality (doc_id % 3), so the pair is
    # eligible for the within-modality join
    docs = spark.createDataFrame(
        [(0, base, len(base)), (3, pert, len(pert))],
        "doc_id bigint, text string, n_chars int",
    )
    fps = mm_stream_fingerprints(attach_binary(docs))
    codes = {r["doc_id"]: r["simhash"] for r in fps.collect()}
    hamming = bin(codes[0] ^ codes[3]).count("1")
    # the codes differ -> an exact-signature bucket join would MISS
    # this pair (the failure mode this test guards against)
    assert 0 < hamming <= HAMMING_MAX
    pairs = mm_neardup_pairs(fps).collect()
    assert [(p["doc_a"], p["doc_b"], p["hamming"]) for p in pairs] == [(0, 3, hamming)]


def test_mm_neardup_candidates_far_below_all_pairs(spark):
    """Precision guard: on the fixture corpus the banded candidates
    must stay a small fraction of the within-modality all-pairs count
    (the round-6 histogram-band attempt degenerated to ratio 1.008 —
    this test would have caught it)."""
    from pyspark.sql import functions as F

    from odoo_batch_processing_spark.registry import all_queries

    from tests.conftest import SF_SMOKE

    from odoo_batch_processing_spark.sources.loader import load_table

    n = load_table(spark, SF_SMOKE, "documents").count()
    per_mod = n // 3
    all_pairs = 3 * per_mod * (per_mod - 1) // 2
    got = all_queries(extended=True)["mm_neardup"](spark, SF_SMOKE).count()
    assert got < 0.05 * all_pairs, (got, all_pairs)


def test_mm_fingerprint_prefilter_equals_null_filter(spark):
    """mm_stream_fingerprints drops short payloads with a cheap
    ``octet_length >= 4`` PRE-filter instead of post-filtering
    ``simhash IS NOT NULL`` (the null form is predicate-pushed below
    the hex projection with the whole Θ(bytes²) fold inlined — the
    round-7 ladder finding). This pins the equivalence the swap rests
    on: over payload lengths 0..10, the kept doc set is exactly
    {octet_length >= 4}, and the codes match the unfiltered fold's
    non-null rows value-for-value."""
    from pyspark.sql import functions as F

    from odoo_batch_processing_spark.operators.dedup import simhash_from_tokens
    from odoo_batch_processing_spark.operators.multimodal import (
        mm_stream_fingerprints,
    )

    rows = [(i, "image", ("ab!x7" * 3)[:i].encode()) for i in range(11)]
    media = spark.createDataFrame(
        rows, "doc_id bigint, modality string, payload binary"
    )
    got = {
        r["doc_id"]: r["simhash"]
        for r in mm_stream_fingerprints(media).collect()
    }
    assert set(got) == {i for i in range(11) if i >= 4}

    # reference: the raw fold with no filter at all — non-null rows
    # must agree exactly
    hx = media.select(
        "doc_id", F.hex("payload").alias("__hx"),
        F.octet_length("payload").cast("bigint").alias("__nb"),
    )
    toks = F.expr(
        "filter(transform(sequence(0, cast(greatest(__nb - 3, 1) - 1 as int), 2),"
        " k -> substring(__hx, cast(2 * k + 1 as int), 8)),"
        " t -> length(t) = 8)"
    )
    ref = {
        r["doc_id"]: r["simhash"]
        for r in hx.select(
            "doc_id", simhash_from_tokens(toks).alias("simhash")
        ).collect()
    }
    assert got == {k: v for k, v in ref.items() if v is not None}


def test_unit_normalization_keeps_norm_fold_out_of_lambdas(spark):
    """The norm fold must never be evaluated inside a per-element
    lambda. CollapseProject substitutes a single-use withColumn alias
    into its consumer, and the old ``transform(v, x / nrm)`` shape put
    that substitution INSIDE the lambda — higher-order functions
    re-evaluate the lambda body per element, so unit normalization
    silently ran Θ(d²) per row (50× wall at d=512×100k rows, measured
    round 7). ``normalized`` now routes the scalar through
    ``array_repeat``'s argument (evaluated once per row wherever
    Catalyst inlines it); this pins the executed-plan shape so the
    transform form can't come back."""
    from pyspark.sql import functions as F

    from odoo_batch_processing_spark.functions.vector import norm, normalized
    from tests.plan_scan import folds_in_lambda_bodies, lambda_bodies

    df = spark.range(64).select(
        "id",
        F.transform(
            F.sequence(F.lit(1), F.lit(8)),
            lambda i: (F.xxhash64(F.col("id"), i) % 7).cast("double"),
        ).alias("v"),
    )
    unit = (
        df.withColumn("__n", norm(F.col("v")))
        .select("id", normalized(F.col("v"), F.col("__n")).alias("uv"))
    )
    plan = unit._jdf.queryExecution().executedPlan().toString()

    # a fold (aggregate) appearing inside any lambdafunction BODY (its
    # first, balanced-paren argument) is the Θ(d²) inline; aggregate as
    # array_repeat's argument is fine — tests/plan_scan.py is the
    # shared scanner (also enforced catalog-wide in test_plan_hygiene).
    offenders = folds_in_lambda_bodies(plan)
    assert not offenders, offenders
    # self-check: the scanner must flag the OLD inlined shape
    old_shape = (
        "transform(v, lambdafunction((lambda x / SQRT(aggregate("
        "zip_with(v, v, lambdafunction((lambda a * lambda b), lambda a,"
        " lambda b, false)), 0.0, lambdafunction((lambda p + lambda q),"
        " lambda p, lambda q, false)))), lambda x, false))"
    )
    assert any("aggregate(" in b for b in lambda_bodies(old_shape))

    # value identity with the naive per-element division
    naive = df.select(
        "id",
        F.transform(
            F.col("v"), lambda x: x / F.sqrt(F.aggregate(
                F.zip_with(F.col("v"), F.col("v"), lambda a, b: a * b),
                F.lit(0.0), lambda acc, x2: acc + x2))
        ).alias("uv"),
    )
    assert sorted(map(tuple, unit.collect())) == sorted(map(tuple, naive.collect()))
