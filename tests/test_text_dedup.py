"""M2 unit tests: Spark-only text paths the DuckDB oracle can't check,
plus dedup survivor semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_rolling_hash_deterministic_and_order_sensitive(spark):
    from odoo_batch_processing_spark.operators.text import rolling_hash

    df = spark.createDataFrame(
        [("a b c",), ("a b c",), ("c b a",)], "text string"
    ).select(rolling_hash(F.col("text")).alias("h"))
    h = [r["h"] for r in df.collect()]
    assert h[0] == h[1]  # same text → same hash
    assert h[0] != h[2]  # token order matters (rolling, not bag-of-words)
    assert all(0 <= x < 2**31 for x in h)  # modulus respected (no ANSI overflow)


def test_lang_id_cjk_and_stopwords(spark):
    from odoo_batch_processing_spark.operators.text import lang_id

    cases = [
        ("the quick fox of the hill", "en"),
        ("el que la de y", "es"),
        ("le chat et les de", "fr"),
        ("der hund und die katze", "de"),
        ("你好 世界", "zh"),
        ("xyzzy plugh", "und"),
    ]
    df = spark.createDataFrame([(t,) for t, _ in cases], "text string")
    got = [r[0] for r in df.select(lang_id(F.col("text"))).collect()]
    assert got == [want for _, want in cases]


def test_quality_features_empty_doc_is_null_not_nan(spark):
    """Empty/blank documents: ratio features are NULL (filterable),
    never NaN/Inf — guarded division, SCALE-robust for real corpora
    where empty docs are common."""
    from odoo_batch_processing_spark.operators.text import quality_features, quality_score

    df = spark.createDataFrame([("",), ("   ",), ("one two",)], "text string")
    f = quality_features(F.col("text"))
    rows = df.select(
        f["stopword_ratio"].alias("sr"),
        f["mean_word_len"].alias("mw"),
        quality_score(F.col("text")).alias("q"),
    ).collect()
    assert rows[0]["sr"] is None and rows[0]["mw"] is None and rows[0]["q"] is None
    assert rows[1]["sr"] is None  # whitespace-only → zero tokens → NULL
    assert rows[2]["sr"] is not None and rows[2]["mw"] == 3.0


def test_deterministic_dedup_survivor(spark):
    from odoo_batch_processing_spark.operators.dedup import deterministic_dedup

    df = spark.createDataFrame(
        [(3, "k1"), (1, "k1"), (2, "k2"), (5, "k1")], "id bigint, k string"
    )
    out = deterministic_dedup(df, ["k"], "id").collect()
    survivors = {r["k"]: r["id"] for r in out}
    assert survivors == {"k1": 1, "k2": 2}  # min id per group, always


def test_fingerprint_normalizes_whitespace_and_case(spark):
    from odoo_batch_processing_spark.operators.text import fingerprint

    df = spark.createDataFrame(
        [("Hello  World",), ("  hello world ",), ("hello worlds",)], "text string"
    ).select(fingerprint(F.col("text")).alias("fp"))
    fps = [r["fp"] for r in df.collect()]
    assert fps[0] == fps[1]
    assert fps[0] != fps[2]


def test_sessionize_gap_semantics(spark, tmp_path):
    # 3 events 10min apart = one session; a 40min gap splits it
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 0, 0, tzinfo=dt.timezone.utc)

    def ns(minutes: int) -> int:  # fixture stores ts as int64 nanoseconds
        return int((base + dt.timedelta(minutes=minutes)).timestamp() * 1_000_000_000)

    rows = [
        (1, ns(0), 100, "click", 1.0, "{}"),
        (2, ns(10), 100, "click", 1.0, "{}"),
        (3, ns(20), 100, "click", 1.0, "{}"),
        (4, ns(60), 100, "click", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts bigint, user_id bigint, event_type string, value double, props string"
    )
    # route through the same loader + expressions the registry query uses
    from odoo_batch_processing_spark.operators import windows as W

    sf_dir = str(tmp_path / "sf")
    df.write.parquet(f"{sf_dir}/events.parquet")
    out = W._q_x7_sessionize(spark, sf_dir)
    sess = {(r["user_id"], r["session_id"]): r["n_events"] for r in out.collect()}
    assert sess == {(100, 1): 3, (100, 2): 1}


def test_hot_bucket_cap_bounds_pair_fanout(spark):
    """A synthetic boilerplate shingle shared by every document must not
    quadratically pair up the corpus: with the cap below the hot
    bucket's size, the pair join sees only the rare shingles; with the
    cap above it, results are identical to the uncapped pipeline."""
    from odoo_batch_processing_spark.operators.dedup import (
        cap_hot_buckets,
        lsh_candidate_pairs,
        minhash_band_keys,
        ngram_jaccard_pairs,
    )

    n_docs = 40
    rows = [(i, "HOT") for i in range(n_docs)]  # one shingle in EVERY doc
    rows += [(i, f"rare_{i % 2}_{i}") for i in range(n_docs)]  # unique filler
    rows += [(0, "shared_pair"), (1, "shared_pair")]  # one genuine near-dup signal
    doc_sh = spark.createDataFrame(rows, "doc_id bigint, sh string")

    capped = cap_hot_buckets(doc_sh, ["sh"], cap=10)
    assert capped.filter(F.col("sh") == "HOT").count() == 0  # hot bucket dropped
    assert capped.count() == n_docs + 2  # everything else kept

    # pair fan-out: uncapped inverted index pairs all 40 docs via HOT
    # (780 pairs); capped sees only the single genuine pair
    uncapped_pairs = (
        doc_sh.alias("a")
        .join(doc_sh.alias("b"), "sh")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .count()
    )
    capped_pairs = (
        capped.alias("a")
        .join(capped.alias("b"), "sh")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .count()
    )
    assert uncapped_pairs == n_docs * (n_docs - 1) // 2 + 1
    assert capped_pairs == 1

    # result-identity when the cap sits above every bucket size: the
    # capped jaccard/LSH pipelines return exactly the uncapped results
    loose = ngram_jaccard_pairs(doc_sh, threshold=0.1, cap=10_000).collect()
    tight_ok = ngram_jaccard_pairs(doc_sh, threshold=0.1, cap=n_docs).collect()
    assert sorted(map(tuple, loose)) == sorted(map(tuple, tight_ok))
    bands = minhash_band_keys(
        doc_sh.groupBy("doc_id").agg(F.collect_set("sh").alias("sh_set"))
    )
    assert sorted(map(tuple, lsh_candidate_pairs(bands, cap=10_000).collect())) == sorted(
        map(tuple, lsh_candidate_pairs(bands, cap=n_docs + 1).collect())
    )


def test_connected_components_min_label(spark, monkeypatch):
    """Chain + triangle + isolate: every vertex labels with its
    component's min id; the isolate labels itself — on both sides of
    the edge cap."""
    from odoo_batch_processing_spark.operators import dedup

    vertices = spark.createDataFrame([(i,) for i in range(1, 9)], "doc_id bigint")
    # chain 1-2-3-4, triangle 5-6-7, isolate 8
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6), (6, 7), (5, 7)], "doc_a bigint, doc_b bigint"
    )
    want = {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 5, 8: 8}
    # default path: the graph is under CC_LOCAL_EDGE_CAP, so this is
    # the driver-side union-find
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.connected_components(vertices, edges).collect()
    }
    assert got == want
    # above the cap (patched to 0): large-star/small-star, same labels
    monkeypatch.setattr(dedup, "CC_LOCAL_EDGE_CAP", 0)
    dist = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.connected_components(vertices, edges).collect()
    }
    assert dist == want


def test_minhash_signatures_match_exploded_min(spark):
    """The map-side array_min/transform signature must be bit-identical
    to the exploded groupBy(min) form it replaced (same md5 stream,
    MIN over rows == array_min over the deduped array)."""
    from pyspark.sql import functions as F

    from odoo_batch_processing_spark.operators.dedup import (
        MINHASH_K,
        _doc_shingle_sets,
        _doc_shingles,
        minhash_signatures,
    )

    sf = "/root/testdata/sf0.001"
    fast = minhash_signatures(_doc_shingle_sets(spark, sf))
    slow = _doc_shingles(spark, sf).groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat_ws("|", F.lit(str(s)), F.col("sh")))).alias(f"m{s}")
            for s in range(MINHASH_K)
        ]
    )
    assert fast.exceptAll(slow).count() == 0
    assert slow.exceptAll(fast).count() == 0
    assert fast.count() > 0


def test_simhash_from_tokens_matches_exploded_groupby(spark):
    """The single-pass array-fold simhash must be bit-identical to the
    exploded GROUP-BY majority vote (same per-token hash stream,
    multiplicity preserved)."""
    from odoo_batch_processing_spark.operators.dedup import (
        simhash_expr,
        simhash_from_tokens,
    )
    from odoo_batch_processing_spark.operators.text import tokens
    from odoo_batch_processing_spark.sources.loader import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    fast = docs.select(
        "doc_id", simhash_from_tokens(tokens(F.col("text"))).alias("simhash")
    ).filter(F.col("simhash").isNotNull())
    slow = simhash_expr(
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    )
    assert fast.exceptAll(slow).count() == 0
    assert slow.exceptAll(fast).count() == 0
    assert fast.count() > 0


def test_star_cc_matches_minlabel_on_fixture(spark):
    """Large-star/small-star must produce the identical clustering to
    the union-find path on the real verified pair graph."""
    from odoo_batch_processing_spark.operators import dedup as D
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.01"
    sets = D._doc_shingle_sets(spark, sf)
    edges = D.verify_candidate_pairs(
        D.lsh_candidate_pairs(D.minhash_band_keys(sets)), sets
    )
    verts = (
        edges.select(F.col("doc_a").alias("doc_id"))
        .union(edges.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    simple = {
        (r["doc_id"], r["cluster_id"])
        for r in D.connected_components(verts, edges).collect()
    }
    star, rounds = D.connected_components_star(verts, edges)
    got = {(r["doc_id"], r["cluster_id"]) for r in star.collect()}
    assert got == simple and got
    assert rounds <= 5  # dup clusters are tiny — must converge fast


def test_star_cc_log_rounds_on_long_chain(spark):
    """On a 64-vertex path graph, where one-hop label propagation would
    need O(n) rounds, large-star/small-star converges in O(log n) —
    the reason it is the corpus-scale form."""
    from odoo_batch_processing_spark.operators.dedup import connected_components_star
    from pyspark.sql import functions as F

    n = 64
    edges = spark.range(n - 1).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    verts = spark.range(n).select(F.col("id").alias("doc_id"))
    star, rounds = connected_components_star(verts, edges, max_iters=25)
    labels = {r["doc_id"]: r["cluster_id"] for r in star.collect()}
    assert labels == {i: 0 for i in range(n)}  # one component rooted at 0
    assert rounds <= 8, f"expected O(log n) rounds, took {rounds}"


def test_cc_long_chain_above_cap_converges(spark, monkeypatch):
    """Above the edge cap (patched to 0) the entry point labels a
    64-vertex chain — 63 hops, deeper than the 25-round budget — as
    one component rooted at 0, within the default budget."""
    from odoo_batch_processing_spark.operators import dedup

    monkeypatch.setattr(dedup, "CC_LOCAL_EDGE_CAP", 0)
    n = 64
    edges = spark.range(n - 1).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    verts = spark.range(n).select(F.col("id").alias("doc_id"))
    labels = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.connected_components(verts, edges).collect()
    }
    assert labels == {i: 0 for i in range(n)}


def test_cc_dispatch_by_edge_count(spark, monkeypatch):
    """The one dispatch rule: exactly CC_LOCAL_EDGE_CAP edges go to the
    driver union-find, one more goes to large-star/small-star, and
    both label a chain as one component rooted at its min id."""
    import odoo_batch_processing_spark.operators.dedup as D

    calls = []
    for name in ("_cc_local", "connected_components_star"):
        orig = getattr(D, name)

        def spy(*a, _name=name, _orig=orig, **k):
            calls.append(_name)
            return _orig(*a, **k)

        monkeypatch.setattr(D, name, spy)
    cap = 4
    monkeypatch.setattr(D, "CC_LOCAL_EDGE_CAP", cap)

    for n_edges, engine in ((cap, "_cc_local"), (cap + 1, "connected_components_star")):
        calls.clear()
        edges = spark.range(n_edges).select(
            F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
        )
        verts = spark.range(n_edges + 1).select(F.col("id").alias("doc_id"))
        out = D.connected_components(verts, edges)
        assert calls == [engine], (n_edges, calls)
        assert {r["doc_id"]: r["cluster_id"] for r in out.collect()} == {
            i: 0 for i in range(n_edges + 1)
        }


def test_cc_local_never_collects_corpus_scale_vertices(spark):
    """The local fast path's driver memory is bounded by the EDGE cap,
    not the vertex count: isolates stay distributed (anti-join), so a
    huge vertex relation with a tiny edge set must work and label
    every isolate with itself."""
    from odoo_batch_processing_spark.operators.dedup import connected_components
    from pyspark.sql import functions as F

    n = 200_000  # corpus-scale stand-in; far above any sane collect
    verts = spark.range(n).select(F.col("id").alias("doc_id"))
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6)], "doc_a bigint, doc_b bigint"
    )
    out = connected_components(verts, edges)
    assert out.count() == n
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in out.filter(F.col("doc_id") < 10).collect()
    }
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 5, 6: 5, 7: 7, 8: 8, 9: 9}
    # spot-check an isolate deep in the range
    assert out.filter(F.col("doc_id") == n - 1).first()["cluster_id"] == n - 1


def test_containment_detects_quote_jaccard_misses(spark):
    """A short doc quoted verbatim inside a 10x-longer one: directed
    containment ~= 1 while Jaccard stays far below the 0.8 report
    threshold — the exact asymmetry the operator exists for."""
    from pyspark.sql import functions as F

    from odoo_batch_processing_spark.operators.dedup import (
        JACCARD_MIN,
        ngram_containment_pairs,
        ngram_jaccard_pairs,
        shingles,
    )

    quote = " ".join(f"tok{i}" for i in range(12))
    long_doc = quote + " " + " ".join(f"pad{i}" for i in range(120))
    docs = spark.createDataFrame(
        [(1, quote), (2, long_doc)], "doc_id bigint, text string"
    )
    doc_sh = docs.select(
        "doc_id", F.explode(shingles(F.col("text"))).alias("sh")
    ).distinct()
    cont = ngram_containment_pairs(doc_sh).collect()
    assert len(cont) == 1
    row = cont[0]
    assert (row["doc_a"], row["doc_b"]) == (1, 2)
    # every shingle of the quote appears in the long doc
    assert row["c_a_in_b"] == 1.0
    assert row["c_b_in_a"] < 0.2
    # Jaccard on the same pair graph reports NOTHING
    assert ngram_jaccard_pairs(doc_sh, threshold=JACCARD_MIN).count() == 0


def test_shingles_bound_equivalence(spark):
    """Round-8 Θ(T²) fix (SCALE.md): shingles/_bigrams/_trigrams now
    BIND the token array once per row (exprs.bind) instead of
    re-embedding tokens(text) at every lambda reference — 85× at
    1000-token docs, and the values must be IDENTICAL. Pins the bound
    forms against the original unbound shapes over the edge cases:
    empty text, blanks-only, fewer tokens than the shingle width,
    exact width, repeated shingles (array_distinct path), and
    multi-space runs."""
    from pyspark.sql import functions as F

    from odoo_batch_processing_spark.operators.dedup import shingles
    from odoo_batch_processing_spark.operators.text import (
        _bigrams,
        _trigrams,
        tokens,
    )

    texts = [
        "",
        "   ",
        "one",
        "one two",
        "one two three",
        "a b c d e f g",
        "x x x x x",  # repeated shingles -> distinct collapses
        "  spaced   out   tokens  here ",
        None,
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )

    def unbound_shingles(text, n=3):
        toks = tokens(text)
        return F.when(
            F.size(toks) >= n,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - n + 1),
                    lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
                )
            ),
        ).otherwise(F.array().cast("array<string>"))

    def unbound_trigrams(toks):
        nn = F.size(toks)
        return F.when(
            nn >= 3,
            F.transform(
                F.sequence(F.lit(1), nn - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(toks, i),
                    F.element_at(toks, i + 1),
                    F.element_at(toks, i + 2),
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    got = docs.select(
        "doc_id",
        shingles(F.col("text")).alias("sh"),
        _bigrams(tokens(F.col("text"))).alias("bg"),
        _trigrams(tokens(F.col("text"))).alias("tg"),
        unbound_shingles(F.col("text")).alias("sh0"),
        unbound_trigrams(tokens(F.col("text"))).alias("tg0"),
    ).collect()
    for r in got:
        assert r["sh"] == r["sh0"], (r["doc_id"], r["sh"], r["sh0"])
        assert r["tg"] == r["tg0"], (r["doc_id"], r["tg"], r["tg0"])
        # bigrams cross-checked structurally: prefix pairs of trigrams
        if r["tg"]:
            assert [t.rsplit(" ", 1)[0] for t in r["tg"]] == r["bg"][: len(r["tg"])]


def test_deterministic_dedup_null_contract(spark):
    """Round-12 documented NULL contract: NULL keys follow SQL GROUP
    BY semantics (one survivor per NULL-key group); NULL-id rows never
    survive; an all-NULL-id group emits nothing."""
    from odoo_batch_processing_spark.operators.dedup import deterministic_dedup

    df = spark.createDataFrame(
        [
            (7, None, "a"),      # NULL key group: survivors by min id
            (4, None, "b"),
            (None, "k1", "c"),   # NULL id alongside a real id: dropped
            (9, "k1", "d"),
            (None, "k2", "e"),   # all-NULL-id group: emits NOTHING
            (None, "k2", "f"),
        ],
        "id bigint, k string, v string",
    )
    out = deterministic_dedup(df, ["k"], "id").collect()
    by_key = {r["k"]: r for r in out}
    assert set(by_key) == {None, "k1"}          # k2 emitted nothing
    assert by_key[None]["id"] == 4 and by_key[None]["v"] == "b"
    assert by_key["k1"]["id"] == 9 and by_key["k1"]["v"] == "d"


def test_deterministic_dedup_id_in_keys_raises(spark):
    import pytest as _pytest

    from odoo_batch_processing_spark.operators.dedup import deterministic_dedup

    df = spark.createDataFrame([(1, "a")], "id bigint, k string")
    with _pytest.raises(ValueError, match="id_col"):
        deterministic_dedup(df, ["id", "k"], "id")


def test_deterministic_dedup_hostile_column_names(spark):
    """Dotted column names and a literal `_survivor` input column must
    not break the struct unpack (getField access + collision-proof
    internal alias)."""
    from odoo_batch_processing_spark.operators.dedup import deterministic_dedup

    df = spark.createDataFrame(
        [(2, "k1", "x", "s1"), (1, "k1", "y", "s2")],
        ["id", "k", "a.b", "_survivor"],
    )
    out = deterministic_dedup(df, ["k"], "id").collect()
    assert len(out) == 1
    row = out[0].asDict()
    assert row["id"] == 1 and row["a.b"] == "y" and row["_survivor"] == "s2"


def test_cc_exhaustion_fails_loud(spark):
    """A component the star engine cannot contract within its
    iteration budget must raise, never return partial labels with a
    green exit. Planted 16-vertex chain + max_iters=1; the same graph
    under a sufficient budget still converges to the exact
    clustering."""
    from odoo_batch_processing_spark.operators.dedup import connected_components_star

    n = 16
    edges = spark.range(n - 1).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    verts = spark.range(n).select(F.col("id").alias("doc_id"))

    with pytest.raises(RuntimeError, match="fixed point"):
        connected_components_star(verts, edges, max_iters=1)

    # sufficiency control: the raise is about the BUDGET, not the graph
    star, _rounds = connected_components_star(verts, edges, max_iters=25)
    assert {r["cluster_id"] for r in star.collect()} == {0}


def test_cc_exactly_max_iters_confirms_and_returns(spark):
    """A star contraction that reaches its fixed point in EXACTLY
    max_iters rounds holds final labels the loop never confirmed with
    a zero-change round — it must CONFIRM (one unbudgeted probe
    round) and return them, not raise."""
    from odoo_batch_processing_spark.operators.dedup import connected_components_star

    n = 6
    edges = spark.range(n - 1).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    verts = spark.range(n).select(F.col("id").alias("doc_id"))

    # `rounds` includes the zero-change round that observed the fixed
    # point, so rounds-1 productive rounds REACHED it — a budget of
    # rounds-1 must succeed via the confirming probe
    _, rounds = connected_components_star(verts, edges, max_iters=25)
    assert rounds > 1
    star, _ = connected_components_star(verts, edges, max_iters=rounds - 1)
    assert {r["cluster_id"] for r in star.collect()} == {0}


def test_probe_scope_releases_micro_batch_pins(spark):
    """Review r14 #4: materialized_scope must unpersist exactly the
    DataFrames materialize_once pinned inside it (the per-micro-batch
    release for foreachBatch probes), leaving the caller's earlier
    pins cached — so a long stream's pinned-block count stays flat
    instead of growing three relations per trigger."""
    from odoo_batch_processing_spark.session import (
        _MATERIALIZED,
        materialize_once,
        materialized_scope,
    )

    outer = materialize_once(spark.range(10))
    outer.count()
    mark = len(_MATERIALIZED)
    try:
        inner_refs = []
        for _ in range(3):  # three "micro-batches"
            with materialized_scope():
                inner = materialize_once(spark.range(5))
                inner.count()
                assert inner.storageLevel.useMemory  # pinned inside
                inner_refs.append(inner)
            # released on scope exit: nothing new left in the registry
            assert len(_MATERIALIZED) == mark
        for inner in inner_refs:
            assert not inner.storageLevel.useMemory
        # the caller-owned pin outside the scopes stays cached
        assert outer.storageLevel.useMemory
    finally:
        outer.unpersist()
        del _MATERIALIZED[mark - 1 : mark]


def test_indexed_lsh_cap_is_scan_local(spark):
    """Review r14 #5: a band-key relation carrying the write-time
    ``bucket_n`` column must be capped by a scan-local filter — same
    survivors as cap_hot_buckets' count + semi-join form, with no
    aggregate exchange in the plan."""
    from odoo_batch_processing_spark.operators.dedup import lsh_candidate_pairs

    rows = [
        # bucket (0, "hot") holds 3 docs, (0, "cold") holds 2
        (1, 0, "hot", 3), (2, 0, "hot", 3), (3, 0, "hot", 3),
        (4, 0, "cold", 2), (5, 0, "cold", 2),
    ]
    bk = spark.createDataFrame(
        rows, "doc_id bigint, band int, band_key string, bucket_n bigint"
    )
    got = sorted(
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(bk, cap=2, precounted=True).collect()
    )
    assert got == [(4, 5)]  # hot bucket dropped wholesale
    # plan shape: the indexed path must not re-aggregate bucket counts
    # (cap_hot_buckets' count + semi-join) — the only aggregate left is
    # the final pair distinct, which computes no count at all
    plan = (
        lsh_candidate_pairs(bk, cap=2, precounted=True)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "count(" not in plan.lower()
    assert "LeftSemi" not in plan

    # ADVICE r15 #2: the scan-local fast path is an EXPLICIT opt-in —
    # a computed relation that coincidentally carries a bucket_n
    # column must NOT silently reuse those (possibly stale/foreign)
    # counts. Default path recomputes: with fresh counts the "hot"
    # bucket (3 docs > cap=2) still drops even if the stored column
    # lies about it.
    lying = bk.withColumn("bucket_n", F.lit(1).cast("bigint"))
    got_default = sorted(
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(lying, cap=2).collect()
    )
    assert got_default == [(4, 5)]
    # and precounted=True without the column fails loudly
    with pytest.raises(ValueError, match="bucket_n"):
        lsh_candidate_pairs(bk.drop("bucket_n"), cap=2, precounted=True)
