"""Training-data curation operators (the X-surface beyond featurize/
dedup): PII scrubbing, quality gating, benchmark decontamination,
deterministic sampling, and the composed keep/drop pipeline.

These are the operations a large-scale LLM pretraining pipeline runs
between raw crawl and training shards (public data-curation
literature: C4's heuristic filters, Gopher's repetition rules,
benchmark-overlap decontamination). The reference has no analog — its
surface stops at bulk cell edits (SURVEY.md §2.2) — so like
operators/text.py this module is driver-mandated extension surface.

Scale shapes:

* PII scrub and quality gates are pure per-row column expressions
  (JVM codegen, zero Python) — a single scan at any scale;
* the per-doc top-token and distinct-shingle ratios use higher-order
  array functions (O(tokens²) per row on bounded-length docs), NOT a
  tokens-explode shuffle — the whole quality pass stays shuffle-free;
* decontamination is the dedup inverted-index idiom: explode shingles,
  hot-bucket-cap the benchmark index (a boilerplate shingle shared by
  b docs fans out b·|corpus-hits| join rows), semi/inner join on the
  shingle key — O(total shingles), never doc×doc;
* hash sampling uses a multiplicative integer hash (Knuth) so the
  SAME rows are kept on every engine and every run — at 100 TB this
  is how you carve reproducible train/eval shards without coordination
  (xxhash64 is the production choice; the multiplicative form is used
  here because it is bit-identical in DuckDB for the oracle).
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from odoo_batch_processing_spark.operators.dedup import (
    cap_hot_buckets,
    shingles,
    shingles_of_text,
)
from odoo_batch_processing_spark.operators.text import quality_features, tokens
from odoo_batch_processing_spark.session import materialize_once
from odoo_batch_processing_spark.sources.loader import fan_out, load_table

# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

#: Patterns restricted to syntax shared by Java regex (Spark) and RE2
#: (DuckDB): no backrefs, no lookaround.
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_PATTERN = r"555-\d{3}-\d{4}"


def scrub_pii(text: Column) -> Column:
    """Replace emails then phone numbers with typed placeholder tokens
    (both engines replace ALL occurrences; DuckDB needs the 'g' flag)."""
    return F.regexp_replace(
        F.regexp_replace(text, EMAIL_PATTERN, "<EMAIL>"),
        PHONE_PATTERN,
        "<PHONE>",
    )


def _dirty_text() -> Column:
    """Deterministically salt the fixture text with synthetic PII (the
    fixture corpus is clean word-salad): every 3rd doc gains an email,
    every 5th a phone number. Both engines build byte-identical strings,
    so the scrub comparison is exact."""
    email = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com now"),
        ),
    ).otherwise(F.lit(""))
    phone = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(
            F.lit(" call 555-001-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(F.lit(""))
    return F.concat(F.col("text"), email, phone)


def _q_x9_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    dirty = _dirty_text()
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(dirty, F.lit(EMAIL_PATTERN), F.lit(0)))
        .cast("bigint")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(dirty, F.lit(PHONE_PATTERN), F.lit(0)))
        .cast("bigint")
        .alias("n_phones"),
        F.md5(scrub_pii(dirty)).alias("scrubbed_hash"),
        F.length(scrub_pii(dirty)).cast("bigint").alias("scrubbed_len"),
    )


# ---------------------------------------------------------------------------
# Quality gates (Gopher/C4-style rule set)
# ---------------------------------------------------------------------------

#: gate thresholds — tuned to split (not rubber-stamp) the fixtures
MIN_TOKENS, MAX_TOKENS = 20, 1000
MIN_MEAN_WORD_LEN, MAX_MEAN_WORD_LEN = 2.0, 12.0
MIN_STOPWORD_RATIO = 0.01
MAX_TOP_TOKEN_RATIO = 0.25
MIN_DISTINCT_5GRAM_RATIO = 0.8


def top_token_ratio(text: Column) -> Column:
    """Frequency share of the most common token — Gopher's single-token
    dominance signal. Higher-order functions only (per-row, no
    explode/shuffle): the max frequency is the longest equal-run in
    the SORTED token array — one sort + one fold, O(tokens·log) per
    doc instead of the O(distinct·tokens) count-per-distinct form
    (~2× on the gate scan at sf0.1; same value, asserted by
    test_top_token_ratio_matches_count_form)."""
    toks = tokens(text)
    best = F.aggregate(
        F.array_sort(toks),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    return best.cast("double") / F.when(F.size(toks) > 0, F.size(toks))


def distinct_5gram_ratio(text: Column) -> Column:
    """Distinct 5-grams / total 5-grams — the repetition signal (a doc
    that repeats a paragraph scores low). NULL for docs shorter than
    one 5-gram (nothing to judge)."""
    toks = tokens(text)
    total = F.size(toks) - 4
    return F.size(shingles(text, 5)).cast("double") / F.when(total > 0, total)


@lru_cache(maxsize=None)
def _gate_columns_cached() -> dict[str, Column]:
    """Built once per process (OPTIMIZATION r17, the dedup
    _signature_cols rationale): the five gate features are deep
    HOF expression trees over the canonical ``text`` column —
    immutable and reusable — and rebuilding them cost ~0.2 s of
    driver-side py4j chatter per gate-consuming query.

    Single-gateway assumption (shared by every lru_cache'd Column
    factory in this repo — dedup._signature_cols etc.): the cached
    trees pin py4j objects of THE process's one JVM gateway; under
    Spark Connect or a gateway restart the cache would hold dead
    handles. Classic PySpark with one JVM per process is the engine's
    documented deployment (session.get_spark)."""
    f = quality_features(F.col("text"))
    return {
        "n_tokens": f["n_tokens"],
        "mean_word_len": f["mean_word_len"],
        "stopword_ratio": f["stopword_ratio"],
        "top_token_ratio": top_token_ratio(F.col("text")),
        "distinct_5gram_ratio": distinct_5gram_ratio(F.col("text")),
    }


def _gate_columns() -> dict[str, Column]:
    """Defensive-copy accessor (ADVICE r17 #1): the cache holds ONE
    mutable dict — handing it out directly would let any future caller
    corrupt every later gate-consuming query by mutating it. The
    Column values are immutable expression trees; copying the dict per
    call is nanoseconds against the ~0.2 s the cache saves."""
    return dict(_gate_columns_cached())


def quality_gate(cols: dict[str, Column]) -> tuple[Column, Column]:
    """(passes, fail_reason): first-failing-rule semantics, evaluated in
    a fixed order so both engines agree on the reason string. A NULL
    feature (empty doc) fails its rule — eqNullSafe-style guards via
    coalesce(condition, FALSE)."""
    rules = [
        (
            "token_count",
            (cols["n_tokens"] >= MIN_TOKENS) & (cols["n_tokens"] <= MAX_TOKENS),
        ),
        (
            "mean_word_len",
            (cols["mean_word_len"] >= MIN_MEAN_WORD_LEN)
            & (cols["mean_word_len"] <= MAX_MEAN_WORD_LEN),
        ),
        ("stopword_ratio", cols["stopword_ratio"] >= MIN_STOPWORD_RATIO),
        ("top_token_ratio", cols["top_token_ratio"] <= MAX_TOP_TOKEN_RATIO),
        (
            "repetition",
            cols["distinct_5gram_ratio"] >= MIN_DISTINCT_5GRAM_RATIO,
        ),
    ]
    passes = F.lit(True)
    reason = F.lit(None).cast("string")
    for name, ok in reversed(rules):
        ok_nn = F.coalesce(ok, F.lit(False))
        reason = F.when(~ok_nn, F.lit(name)).otherwise(reason)
    for _, ok in rules:
        passes = passes & F.coalesce(ok, F.lit(False))
    return passes, reason


def _q_x9_quality_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    cols = _gate_columns()
    passes, reason = quality_gate(cols)
    return docs.select(
        "doc_id",
        cols["n_tokens"].alias("n_tokens"),
        cols["top_token_ratio"].alias("top_token_ratio"),
        cols["distinct_5gram_ratio"].alias("distinct_5gram_ratio"),
        passes.alias("passes"),
        reason.alias("fail_reason"),
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------

#: shingle width for contamination matching (Q/A leakage detection
#: typically uses 8–13-gram windows; the fixture docs are ~54 tokens of
#: tiny vocabulary, so 5 keeps the overlap non-degenerate)
CONTAM_N = 5

#: decontamination inverted-index hot-shingle ceiling — same df² skew
#: guard as dedup.HOT_BUCKET_CAP, sized for 5-gram shingles (far
#: rarer than trigrams, so the ceiling is generous). Mirrored in the
#: _contam_sql / _pipeline_oracle_sql QUALIFY fragments (§7.5: engine
#: and oracle must share every drop-filter constant — the round-10
#: cap sweep found this one engine-only, the same gap class as the
#: seven dedup oracles). WIRING-witnessed at a test-injected cap=5
#: (tests/test_cap_witness.py::test_decontam_hot_cap_witness_*): both
#: query builders and both oracle strings are parameterized over the
#: cap, and the planted corpus proves capped ≠ uncapped with engine ==
#: capped-oracle for BOTH cap populations (decontaminate counts over
#: ALL documents, the pipeline over the kept corpus side only).
DECONTAM_HOT_CAP = 100_000

#: benchmark source id within the fixture corpus
BENCH_SOURCE = "src0"


def _q_x9_decontaminate(
    spark: SparkSession, sf_dir: str, cap: int = DECONTAM_HOT_CAP
) -> DataFrame:
    """Corpus docs sharing ≥1 CONTAM_N-gram with any benchmark
    (BENCH_SOURCE) doc, with the count of distinct matched shingles —
    the inverted-index join of dedup.py, benchmark side hot-capped.

    ``cap`` defaults to the production constant; the witness test
    injects cap=5 to certify the engine/oracle wiring at a corpus a
    unit test can afford (§7.5)."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    # materialize-once, same rationale as dedup._doc_shingles: the
    # index feeds the cap count, the benchmark side, and the corpus
    # side — three plan branches that would each re-explode
    doc_sh = docs.select(
        "doc_id", "source", F.explode(shingles_of_text(CONTAM_N)).alias("sh")
    ).transform(materialize_once)
    # a shingle present in huge numbers of docs (boilerplate) is a skew
    # bomb on the join key — same guard as the LSH band join; the cap
    # sits far above any fixture shingle frequency, so results are
    # unchanged at test scale (the dedup-module convention) — and is
    # mirrored in the oracle's QUALIFY (DECONTAM_HOT_CAP)
    doc_sh = cap_hot_buckets(doc_sh, ["sh"], cap=cap)
    bench = (
        doc_sh.filter(F.col("source") == BENCH_SOURCE)
        .select("sh")
        .distinct()
    )
    corpus = doc_sh.filter(F.col("source") != BENCH_SOURCE)
    return (
        corpus.join(bench, "sh")
        .groupBy("doc_id", "source")
        .agg(F.countDistinct("sh").cast("bigint").alias("n_hit_shingles"))
    )


# ---------------------------------------------------------------------------
# Deterministic hash sampling
# ---------------------------------------------------------------------------

#: Knuth's multiplicative constant; the bucket expression is pure
#: BIGINT arithmetic, bit-identical in Spark and DuckDB.
_KNUTH = 2654435761
_HASH_MOD = 4294967296  # 2^32

#: percentage of each stratum to keep
SAMPLE_PCT = 10


def hash_bucket(key: Column, buckets: int = 100) -> Column:
    return (key * _KNUTH) % _HASH_MOD % buckets


def _q_x9_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible SAMPLE_PCT% sample, stratified by construction:
    the bucket depends only on doc_id, so membership is stable across
    runs, engines, and cluster sizes (unlike rand()-based sampling)."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    return docs.filter(hash_bucket(F.col("doc_id")) < SAMPLE_PCT).select(
        "doc_id", "source"
    )


#: per-group sample size for the fixed-size draw
GROUP_SAMPLE_K = 100

#: seed for the sample's ranking hash — a different seed is an
#: independent draw; the same seed reproduces it on any engine
GROUP_SAMPLE_SEED = 7


def fixed_size_group_sample(
    df: DataFrame, group_col: str, key_col: str, k: int, seed: int
) -> DataFrame:
    """Deterministic k-rows-PER-GROUP sample (the reservoir-sampling
    contract, without reservoir state): rank each group's rows by a
    seeded md5 of the key and keep the k smallest. Percentage sampling
    (:func:`hash_bucket`) can't hold eval sets or per-source caps to a
    FIXED size when group cardinalities differ by orders of magnitude;
    this can, and the draw is uniform because the hash order is
    independent of any data attribute.

    Scale shape: Spark plans the `row_number() <= k` window as a
    partial/final rank-limit (the x4 top-k idiom) — each map task
    forwards at most k rows per group, so the shuffle carries
    O(groups × k × tasks-with-that-group), never the corpus. No
    driver-side reservoir, no rand() nondeterminism."""
    order_key = F.md5(F.concat_ws(":", F.lit(str(seed)), F.col(key_col).cast("string")))
    w = Window.partitionBy(group_col).orderBy(order_key, F.col(key_col))
    return df.withColumn("__rk", F.row_number().over(w)).filter(
        F.col("__rk") <= k
    ).drop("__rk")


def _q_x9_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size per-source draw: exactly min(k, |source|) docs per
    source, reproducible bit-for-bit on any engine/cluster size."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    return fixed_size_group_sample(
        docs, "source", "doc_id", GROUP_SAMPLE_K, GROUP_SAMPLE_SEED
    ).select("doc_id", "source")


# ---------------------------------------------------------------------------
# Sequence packing: bin documents into token-budget training shards
# ---------------------------------------------------------------------------

#: token budget per pack (the training sequence/shard budget)
PACK_CAPACITY = 512

#: parallel packing groups — packing needs an order, and a single
#: global order is a one-node sort; hashing docs into groups first
#: makes each group's cumulative sum an independent window partition,
#: so packing scales with the cluster instead of serializing on it.
PACK_GROUPS = 16


def _q_x9_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy contiguous packing: within each hash group, docs in
    doc_id order accumulate into packs of ~PACK_CAPACITY tokens
    (pack index = start-offset ÷ capacity — a doc that crosses the
    boundary opens the next pack). Integer window sums only, so the
    assignment is exact and engine-independent. Returns the pack
    manifest a shard writer would consume."""
    from pyspark.sql import Window

    docs = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    from odoo_batch_processing_spark.operators.text import token_count

    with_tok = docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        hash_bucket(F.col("doc_id"), PACK_GROUPS).alias("grp"),
    )
    w = Window.partitionBy("grp").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    packed = with_tok.withColumn(
        "pack_id",
        F.col("grp") * 1_000_000
        + F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / PACK_CAPACITY),
    )
    return packed.groupBy("pack_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("pack_tokens"),
    )


# ---------------------------------------------------------------------------
# Source mixture: per-source sampling rates (dataset mixing weights)
# ---------------------------------------------------------------------------

#: sampling percentage by source tier — the "mixture weights" of a
#: pretraining data recipe, applied as deterministic hash sampling so
#: the mix is reproducible shard-by-shard.
MIX_RATES = {"src0": 100, "src1": 100, "src2": 50, "src3": 50}
MIX_DEFAULT_RATE = 10


def _q_x9_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    rate = F.lit(MIX_DEFAULT_RATE)
    for src, pct in MIX_RATES.items():
        rate = F.when(F.col("source") == src, F.lit(pct)).otherwise(rate)
    kept = docs.filter(hash_bucket(F.col("doc_id")) < rate)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept")
    )


# ---------------------------------------------------------------------------
# The composed pipeline: gate ∧ decontaminate ∧ sample
# ---------------------------------------------------------------------------
def _q_x9_curation_pipeline(
    spark: SparkSession, sf_dir: str, cap: int = DECONTAM_HOT_CAP
) -> DataFrame:
    """End-to-end shard selection: quality-gated, decontaminated,
    hash-sampled — the keep-set a pretraining run would actually read.
    ``cap`` is the decontamination hot-shingle ceiling (test-injectable
    for the §7.5 wiring witness; production default).

    Filter ORDER is the scale lever: the cheap predicates (gates +
    hash cut) run first, and only the surviving slice is shingled for
    the contamination join — decontaminating then filtering gives the
    same keep-set (the anti-join can only remove docs that survived),
    but pays the shingle explode on the whole corpus. The kept slice
    is materialized once (it feeds the corpus-side index AND the final
    anti-join; re-running the O(tokens²) gate scan per branch measured
    ~2× end-to-end at sf0.1). The benchmark-side index still comes
    from the UNFILTERED corpus: a benchmark doc that fails a quality
    gate still contaminates."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    cols = _gate_columns()
    passes, _ = quality_gate(cols)
    kept = (
        # OPTIMIZATION r17 (the module's own filter-order lever, one
        # step further): the O(1) hash cut runs BEFORE the
        # O(tokens·log) gate features, so only the surviving 50% pays
        # the array_sort/5-gram scans. Conjunctive filters —
        # value-identical in any order.
        docs.filter(hash_bucket(F.col("doc_id")) < F.lit(50))  # wider 50% cut
        .filter(passes)
        .select("doc_id", "source", "text", cols["n_tokens"].alias("n_tokens"))
        .transform(materialize_once)
    )
    bench_sh = (
        docs.filter(F.col("source") == BENCH_SOURCE)
        .select(F.explode(shingles_of_text(CONTAM_N)).alias("sh"))
        .distinct()
    )
    corpus_sh = (
        kept.filter(F.col("source") != BENCH_SOURCE)
        .select("doc_id", F.explode(shingles_of_text(CONTAM_N)).alias("sh"))
        # materialize: the skew cap below reads the index twice (bucket
        # count + semi-join) and the 5-gram construction dominates the
        # whole pipeline — one shingle pass, not two
        .transform(materialize_once)
    )
    # same boilerplate-shingle skew guard as _q_x9_decontaminate
    corpus_sh = cap_hot_buckets(corpus_sh, ["sh"], cap=cap)
    contaminated = corpus_sh.join(bench_sh, "sh").select("doc_id").distinct()
    return kept.join(contaminated, "doc_id", "left_anti").select(
        "doc_id", "source", "n_tokens"
    )


# ---------------------------------------------------------------------------
# Epoch shuffle: deterministic global training order
# ---------------------------------------------------------------------------

#: epoch seed — a different seed yields an independent permutation;
#: the same seed reproduces the epoch bit-for-bit on any cluster size.
EPOCH_SEED = 17

#: leading hex chars of the shuffle key used as the parallel bucket;
#: 2 chars → 256 buckets, each a window partition of ~|corpus|/256.
_SHUFFLE_BUCKET_CHARS = 2


def epoch_shuffle_key(doc_id: Column, seed: int = EPOCH_SEED) -> Column:
    """Seeded md5 shuffle key — deterministic across engines, unlike
    ``rand()`` (whose draw depends on partitioning and retry count)."""
    return F.md5(F.concat_ws("|", F.lit(str(seed)), doc_id.cast("string")))


def _q_x9_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global training-order shuffle: every doc gets a 1..N position in
    seeded-hash order — the per-epoch permutation a dataloader reads.

    A bare ``row_number() OVER (ORDER BY key)`` is a ONE-partition
    window — the global sort serializes on a single task. The scale
    shape here: the leading hex chars of the key split the corpus into
    256 buckets whose hash order equals their key-prefix order, so
    (a) within-bucket positions come from 256 independent window
    partitions, and (b) global position = within-bucket position + the
    cumulative size of earlier buckets — a 256-row offset relation,
    broadcast back. Identical output to the one-partition form (the
    bucket is a PREFIX of the key, so bucket-major order IS key order;
    md5 ties broken by doc_id in both engines), but every stage is
    distributed.

    tie-order: unique-key — (skey, doc_id) is unique because doc_id
    is; the deterministic md5 key + id tiebreaker is exactly the
    pattern the r09 postmortem prescribes for value-visible positional
    ops."""
    from pyspark.sql import Window

    docs = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    keyed = docs.select(
        "doc_id",
        epoch_shuffle_key(F.col("doc_id")).alias("skey"),
    ).withColumn("bucket", F.substring(F.col("skey"), 1, _SHUFFLE_BUCKET_CHARS))
    wb = Window.partitionBy("bucket").orderBy("skey", "doc_id")
    in_bucket = keyed.withColumn("bpos", F.row_number().over(wb))
    sizes = in_bucket.groupBy("bucket").agg(F.count(F.lit(1)).alias("bn"))
    wo = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    # 256 rows — the global cumulative sum is a one-task window over a
    # tiny relation, then broadcast to the join below by the threshold
    offsets = sizes.withColumn("boff", F.coalesce(F.sum("bn").over(wo), F.lit(0))).select(
        "bucket", "boff"
    )
    return (
        in_bucket.join(offsets, "bucket")
        .select(
            (F.col("boff") + F.col("bpos")).cast("bigint").alias("shuffle_pos"),
            "doc_id",
        )
    )


# The composed pipeline (gates + deterministic sampling +
# decontamination end-to-end), the two shapes it does not fold in
# (shard packing and mixture sampling), then the single-op stages the
# pipeline composes.
QUERIES = {
    "x9_curation_pipeline": _q_x9_curation_pipeline,
    "x9_pack_shards": _q_x9_pack_shards,
    "x9_source_mix": _q_x9_source_mix,
    "x9_pii_scrub": _q_x9_pii_scrub,
    "x9_quality_gates": _q_x9_quality_gates,
    "x9_decontaminate": _q_x9_decontaminate,
    "x9_hash_sample": _q_x9_hash_sample,
    "x9_group_sample": _q_x9_group_sample,
    "x9_epoch_shuffle": _q_x9_epoch_shuffle,
}

# --- shared DuckDB fragments (mirroring the Spark expressions 1:1) ---

_TOKS = "list_filter(string_split(text, ' '), x -> trim(x) <> '')"
_N_TOK = f"CAST(len({_TOKS}) AS BIGINT)"
_MEAN_WLEN = (
    f"CAST(CAST(length(text) AS BIGINT) - ({_N_TOK} - 1) AS DOUBLE)"
    f" / nullif({_N_TOK}, 0)"
)
_STOPLIST = "['the', 'a', 'of', 'and', 'to', 'in', 'is']"
_STOP_RATIO = (
    f"CAST(len(list_filter({_TOKS}, x -> list_contains({_STOPLIST}, x))) AS DOUBLE)"
    f" / nullif({_N_TOK}, 0)"
)
_TOP_TOK_RATIO = (
    f"CAST(list_max(list_transform(list_distinct({_TOKS}),"
    f" t -> len(list_filter({_TOKS}, x -> x = t)))) AS DOUBLE)"
    f" / nullif({_N_TOK}, 0)"
)


def _sh_sql(n: int) -> str:
    return (
        f"list_distinct(list_transform(range(1, len({_TOKS}) - {n - 2}),"
        f" i -> array_to_string(list_slice({_TOKS}, i, i + {n - 1}), ' ')))"
    )


_D5_RATIO = (
    f"CAST(len({_sh_sql(5)}) AS DOUBLE)"
    f" / nullif(CASE WHEN {_N_TOK} - 4 > 0 THEN {_N_TOK} - 4 END, 0)"
)

_GATES = f"""
    coalesce({_N_TOK} BETWEEN {MIN_TOKENS} AND {MAX_TOKENS}, FALSE)
    AND coalesce({_MEAN_WLEN} BETWEEN {MIN_MEAN_WORD_LEN} AND {MAX_MEAN_WORD_LEN}, FALSE)
    AND coalesce({_STOP_RATIO} >= {MIN_STOPWORD_RATIO}, FALSE)
    AND coalesce({_TOP_TOK_RATIO} <= {MAX_TOP_TOKEN_RATIO}, FALSE)
    AND coalesce({_D5_RATIO} >= {MIN_DISTINCT_5GRAM_RATIO}, FALSE)
"""

_FAIL_REASON = f"""
    CASE WHEN NOT coalesce({_N_TOK} BETWEEN {MIN_TOKENS} AND {MAX_TOKENS}, FALSE) THEN 'token_count'
         WHEN NOT coalesce({_MEAN_WLEN} BETWEEN {MIN_MEAN_WORD_LEN} AND {MAX_MEAN_WORD_LEN}, FALSE) THEN 'mean_word_len'
         WHEN NOT coalesce({_STOP_RATIO} >= {MIN_STOPWORD_RATIO}, FALSE) THEN 'stopword_ratio'
         WHEN NOT coalesce({_TOP_TOK_RATIO} <= {MAX_TOP_TOKEN_RATIO}, FALSE) THEN 'top_token_ratio'
         WHEN NOT coalesce({_D5_RATIO} >= {MIN_DISTINCT_5GRAM_RATIO}, FALSE) THEN 'repetition'
    END
"""

_DIRTY = """
    text
    || CASE WHEN doc_id % 3 = 0
            THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com now'
            ELSE '' END
    || CASE WHEN doc_id % 5 = 0
            THEN ' call 555-001-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
            ELSE '' END
"""

_SCRUBBED = (
    f"regexp_replace(regexp_replace({_DIRTY}, '{EMAIL_PATTERN}', '<EMAIL>', 'g'),"
    f" '{PHONE_PATTERN}', '<PHONE>', 'g')"
)

def _contam_sql(cap: int = DECONTAM_HOT_CAP) -> str:
    """x9_decontaminate oracle, parameterized over the hot-shingle cap
    so the §7.5 wiring witness can run engine and oracle at the SAME
    injected constant (cap=5) on a corpus where it binds."""
    return f"""
    WITH doc_sh_all AS (
        SELECT doc_id, source, unnest({_sh_sql(CONTAM_N)}) AS sh
        FROM documents
    ),
    -- DECONTAM_HOT_CAP mirror (§7.5): the engine caps the inverted
    -- index over ALL documents before the bench/corpus split
    doc_sh AS (
        SELECT * FROM doc_sh_all
        QUALIFY COUNT(*) OVER (PARTITION BY sh) <= {cap}
    ),
    bench AS (SELECT DISTINCT sh FROM doc_sh WHERE source = '{BENCH_SOURCE}')
    SELECT c.doc_id, c.source,
           CAST(COUNT(DISTINCT c.sh) AS BIGINT) AS n_hit_shingles
    FROM doc_sh c JOIN bench b ON c.sh = b.sh
    WHERE c.source <> '{BENCH_SOURCE}'
    GROUP BY c.doc_id, c.source
"""


_CONTAM = _contam_sql()


def _pipeline_oracle_sql(cap: int = DECONTAM_HOT_CAP) -> str:
    """x9_curation_pipeline oracle, parameterized over the hot-shingle
    cap (same §7.5 witness contract as :func:`_contam_sql`). The cap
    POPULATION deliberately differs from x9_decontaminate's: the
    pipeline counts over the KEPT (gated + sampled, non-benchmark)
    corpus side only, because the engine shingles nothing else — the
    mirror must match that exactly, not reuse the all-documents count.
    The witness corpus plants a shingle hot in one population but not
    the other, so swapping populations fails the compare."""
    return f"""
        WITH kept_corpus_sh AS (
            SELECT doc_id, unnest({_sh_sql(CONTAM_N)}) AS sh
            FROM documents d
            WHERE ({_GATES})
              AND (d.doc_id * {_KNUTH}) % {_HASH_MOD} % 100 < 50
              AND d.source <> '{BENCH_SOURCE}'
        ),
        capped_corpus_sh AS (
            SELECT * FROM kept_corpus_sh
            QUALIFY COUNT(*) OVER (PARTITION BY sh) <= {cap}
        ),
        bench AS (
            SELECT DISTINCT sh FROM (
                SELECT unnest({_sh_sql(CONTAM_N)}) AS sh
                FROM documents WHERE source = '{BENCH_SOURCE}'
            )
        ),
        contaminated AS (
            SELECT DISTINCT c.doc_id
            FROM capped_corpus_sh c JOIN bench b ON c.sh = b.sh
        )
        SELECT d.doc_id, d.source, {_N_TOK} AS n_tokens
        FROM documents d
        WHERE ({_GATES})
          AND (d.doc_id * {_KNUTH}) % {_HASH_MOD} % 100 < 50
          AND NOT EXISTS (SELECT 1 FROM contaminated c WHERE c.doc_id = d.doc_id)
    """

ORACLES = {
    "x9_pii_scrub": f"""
        SELECT doc_id,
               CAST(len(regexp_extract_all({_DIRTY}, '{EMAIL_PATTERN}')) AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all({_DIRTY}, '{PHONE_PATTERN}')) AS BIGINT) AS n_phones,
               md5({_SCRUBBED}) AS scrubbed_hash,
               CAST(length({_SCRUBBED}) AS BIGINT) AS scrubbed_len
        FROM documents
    """,
    "x9_quality_gates": f"""
        SELECT doc_id,
               {_N_TOK} AS n_tokens,
               {_TOP_TOK_RATIO} AS top_token_ratio,
               {_D5_RATIO} AS distinct_5gram_ratio,
               {_GATES} AS passes,
               {_FAIL_REASON} AS fail_reason
        FROM documents
    """,
    "x9_decontaminate": _CONTAM,
    "x9_hash_sample": f"""
        SELECT doc_id, source
        FROM documents
        WHERE (doc_id * {_KNUTH}) % {_HASH_MOD} % 100 < {SAMPLE_PCT}
    """,
    "x9_group_sample": f"""
        SELECT doc_id, source FROM (
            SELECT doc_id, source,
                   ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY md5('{GROUP_SAMPLE_SEED}' || ':' || CAST(doc_id AS VARCHAR)),
                                doc_id
                   ) AS rk
            FROM documents
        ) WHERE rk <= {GROUP_SAMPLE_K}
    """,
    "x9_pack_shards": f"""
        WITH with_tok AS (
            SELECT doc_id, {_N_TOK} AS n_tokens,
                   (doc_id * {_KNUTH}) % {_HASH_MOD} % {PACK_GROUPS} AS grp
            FROM documents
        ),
        packed AS (
            SELECT grp * 1000000
                   + CAST(floor((SUM(n_tokens) OVER (PARTITION BY grp ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          - n_tokens) / {PACK_CAPACITY}) AS BIGINT) AS pack_id,
                   n_tokens
            FROM with_tok
        )
        SELECT pack_id, CAST(COUNT(1) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
        FROM packed GROUP BY pack_id
    """,
    "x9_source_mix": f"""
        SELECT source, CAST(COUNT(1) AS BIGINT) AS n_kept
        FROM documents
        WHERE (doc_id * {_KNUTH}) % {_HASH_MOD} % 100 <
              CASE {' '.join(f"WHEN source = '{s}' THEN {p}" for s, p in MIX_RATES.items())}
                   ELSE {MIX_DEFAULT_RATE} END
        GROUP BY source
    """,
    "x9_curation_pipeline": _pipeline_oracle_sql(),
    # the one-partition restatement of the bucketed Spark plan: the
    # bucket is a PREFIX of the sort key, so key order == bucket-major
    # order and the two forms assign identical positions
    "x9_epoch_shuffle": f"""
        SELECT CAST(ROW_NUMBER() OVER (
                   ORDER BY md5('{EPOCH_SEED}|' || CAST(doc_id AS VARCHAR)), doc_id
               ) AS BIGINT) AS shuffle_pos,
               doc_id
        FROM documents
    """,
}


def observed(df, name: str, *metric_cols):
    """Attach runtime metrics to a relation with ``df.observe`` — the
    engine's zero-extra-pass QA surface: the accumulators fill in as
    the SAME action that writes/collects the data runs, so pipeline
    health counters (rows kept, nulls seen, balance sums) cost no
    second scan. At 100 TB that is the difference between "metrics"
    and "rerun the job to count".

    Returns ``(df_with_observation, Observation)``; read
    ``observation.get`` AFTER the first action. Works on any batch
    DataFrame (streaming uses the listener path in
    streaming/progress.py instead).
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    return df.observe(obs, *metric_cols), obs


#: per-source data-encryption keys (in production: a KMS-backed key
#: map, broadcast); 16 bytes = AES-128
_SHRED_KEYS = {f"src{i}": f"key-src{i}".ljust(16, "0") for i in range(20)}
#: the source whose key has been destroyed (the right-to-be-forgotten
#: request) — its rows become unrecoverable without touching the data
_SHREDDED_SOURCE = "src3"


def _q_x9_crypto_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crypto-shredding: the 100 TB right-to-be-forgotten mechanism.
    Rewriting petabytes to delete one cohort is a non-starter; instead
    every cohort's payload is encrypted with a cohort key
    (``aes_encrypt``, GCM) and deletion = destroying that key. The
    query runs the full lifecycle in one plan: encrypt each doc with
    its source's key, then decrypt with the post-deletion key map —
    ``try_aes_decrypt`` yields NULL exactly for the shredded cohort
    (authenticated decryption fails closed, no garbage plaintext),
    everything else round-trips byte-identically.

    The oracle can't run AES but doesn't need to: GCM ciphertexts are
    randomized, only the DECRYPTED result is compared, and that is
    deterministic — text for live cohorts, NULL for the shredded one.
    All key material folds into the plan as literals (broadcast-sized
    by construction); the pass is one scan, zero shuffles.
    """
    docs = load_table(spark, sf_dir, "documents")
    enc_key = F.create_map(
        *[F.lit(x) for kv in _SHRED_KEYS.items() for x in kv]
    )[F.col("source")]
    live = {s: k for s, k in _SHRED_KEYS.items() if s != _SHREDDED_SOURCE}
    # the destroyed key is ABSENT from the post-deletion map; map
    # lookup misses yield NULL and try_aes_decrypt(NULL key) → NULL
    dec_key = F.create_map(
        *[F.lit(x) for kv in live.items() for x in kv]
    )[F.col("source")]
    encrypted = docs.select(
        "doc_id", "source", F.aes_encrypt(F.col("text"), enc_key).alias("ct")
    )
    return encrypted.select(
        "doc_id",
        "source",
        F.try_aes_decrypt(F.col("ct"), dec_key).cast("string").alias("recovered"),
        F.try_aes_decrypt(F.col("ct"), dec_key).isNotNull().alias("recoverable"),
    )


QUERIES["x9_crypto_shred"] = _q_x9_crypto_shred
ORACLES["x9_crypto_shred"] = f"""
    SELECT doc_id, source,
           CASE WHEN source = '{_SHREDDED_SOURCE}' THEN NULL ELSE text END AS recovered,
           source <> '{_SHREDDED_SOURCE}' AS recoverable
    FROM documents
"""


# ---------------------------------------------------------------------------
# Weighted (importance) sampling: inclusion probability ∝ a per-doc weight
# ---------------------------------------------------------------------------

#: floor/ceiling of the per-document inclusion percentage
WEIGHTED_MIN_PCT = 5
WEIGHTED_MAX_PCT = 100

#: characters per +1 percentage point of inclusion probability
WEIGHTED_CHARS_PER_PCT = 50


def _q_x9_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance sampling with UNEQUAL inclusion probabilities — the
    general form of x9_hash_sample's fixed-rate draw. Each document's
    inclusion percentage is proportional to its length (long docs
    carry more training tokens, so a token-budget-proportional draw
    keeps them with higher probability), clamped to [5, 100] %; the
    keep/drop decision is the same doc_id Knuth-hash coin as
    x9_hash_sample, so membership is deterministic on any engine or
    cluster size. The inclusion percentage travels WITH each kept row:
    a downstream estimator divides by p/100 (Horvitz–Thompson) to
    unbias any statistic computed on the sample.

    All-integer rate arithmetic (chars ÷ 50, clamp) means the
    threshold compare is exact — no float boundary to disagree on —
    which is what lets a weighted RANDOMIZED operator sit under a
    bit-exact oracle. One scan, zero shuffles: filter + projection
    only, fully pushed to the parquet scan."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    rate = F.least(
        F.lit(WEIGHTED_MAX_PCT),
        F.greatest(
            F.lit(WEIGHTED_MIN_PCT),
            (F.col("n_chars") / F.lit(WEIGHTED_CHARS_PER_PCT)).cast("int"),
        ),
    )
    return (
        docs.withColumn("inclusion_pct", rate.cast("int"))
        .filter(hash_bucket(F.col("doc_id")) < F.col("inclusion_pct"))
        .select("doc_id", "source", "inclusion_pct")
    )


QUERIES["x9_weighted_sample"] = _q_x9_weighted_sample
ORACLES["x9_weighted_sample"] = f"""
    SELECT doc_id, source, inclusion_pct FROM (
        SELECT doc_id, source,
               CAST(least({WEIGHTED_MAX_PCT}, greatest({WEIGHTED_MIN_PCT},
                    CAST(trunc(n_chars / {WEIGHTED_CHARS_PER_PCT}.0) AS INT))) AS INT)
                   AS inclusion_pct
        FROM documents
    )
    WHERE (doc_id * {_KNUTH}) % {_HASH_MOD} % 100 < inclusion_pct
"""


# ---------------------------------------------------------------------------
# Curriculum bucketing: difficulty deciles from LM surprisal
# ---------------------------------------------------------------------------


def _q_x9_difficulty_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum assignment: decile each document's unigram-LM
    surprisal WITHIN its source — the ordering a curriculum schedule
    (easy→hard) or a mid-band quality filter consumes. Composes
    x5_unigram_surprisal's exact whole-bit scores (bigint total_bits,
    so the rank order has no float ties) with ntile(10) partitioned by
    source: every partition sorts independently, so unlike a global
    ntile this parallelizes with the source count — the same
    keyed-window contract as top-k per group. Ties (equal avg bits)
    break on doc_id for a deterministic decile edge."""
    from odoo_batch_processing_spark.operators.text import (
        _q_x5_unigram_surprisal,
    )

    scores = _q_x5_unigram_surprisal(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    from pyspark.sql import Window

    # NB: explicit integer division (floor) on BOTH engines — a
    # float-divide-then-cast key would truncate on Spark but round on
    # DuckDB, silently reordering decile edges
    w = Window.partitionBy("source").orderBy(
        F.expr("total_bits * 1000000L div n_tokens"),
        "doc_id",
    )
    return (
        scores.join(docs, "doc_id")
        .select(
            "doc_id",
            "source",
            "total_bits",
            F.ntile(10).over(w).cast("int").alias("difficulty_decile"),
        )
    )


QUERIES["x9_difficulty_deciles"] = _q_x9_difficulty_deciles
# Built from text.py's SURPRISAL_SCORES_SQL, the same fragment the
# x5_unigram_surprisal oracle certifies — NOT re-inlined — so a
# tokenization or scoring change stays in lockstep with the base
# oracle (ADVICE r04; graph.py's shared-fragment convention).
from odoo_batch_processing_spark.operators.text import SURPRISAL_SCORES_SQL as _SURPRISAL

ORACLES["x9_difficulty_deciles"] = f"""
    SELECT s.doc_id, d.source, s.total_bits,
           CAST(ntile(10) OVER (
               PARTITION BY d.source
               ORDER BY s.total_bits * 1000000 // s.n_tokens, s.doc_id
           ) AS INTEGER) AS difficulty_decile
    FROM {_SURPRISAL} s JOIN documents d ON d.doc_id = s.doc_id
"""
