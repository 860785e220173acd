"""Deduplication operators (X2 exact; X3 near-dup) — the first-class
training-data-pipeline surface (BASELINE.json north star).

Exact dedup at 100 TB is a hash shuffle on the dedup key. Two idioms:

* ``dropDuplicates(keys)`` — keeps an ARBITRARY survivor per group
  (first seen per partition); cheap but nondeterministic, fine when
  any copy will do.
* deterministic dedup — groupBy(key).agg(min(id)): same shuffle cost,
  reproducible survivor. The engine's registry queries use this form
  so results are oracle-checkable; pipelines should too (reproducible
  training sets).

Keying on a fingerprint (md5 of normalized text — functions in
operators/text.py) instead of the raw text keeps the shuffle narrow:
16 bytes/row instead of the full document. At 100 TB that is the
difference between shuffling ~2 TB of keys and shuffling the corpus.

Near-dup (X3) — four complementary detectors, all pure DataFrame ops:

* **n-gram Jaccard** — exact set overlap on 3-token shingles via an
  inverted-index self-join (shingle → docs). The join key is the
  shingle, so the shuffle is O(total shingles), and only documents
  sharing a shingle ever pair up — never the O(n²) cross join.
* **MinHash-LSH** — 12 md5-derived min-hashes, 4 bands × 3 rows;
  documents sharing a band key become candidate pairs. md5 (not
  xxhash64) because the DuckDB oracle reproduces it bit-for-bit.
* **SimHash** — 32-bit fingerprint from per-token md5 bits (16 bits
  was rejected: ~28k chance-pairs at 500 docs — see SIMHASH_BITS),
  then *banded* pairing (4 bands × 8 bits): a pair at Hamming
  distance ≤ 3 must agree on ≥ 1 band (pigeonhole), so banding loses
  NO recall while cutting the pair space from O(n²) to bucket-local.
* **embedding cosine** — nearest neighbor within an IVF-style coarse
  partition (the label column stands in for a centroid id).

At 100 TB the shared shape is: derive a compact key (shingle, band,
cell) → shuffle on the key → pair only within buckets → verify
exactly. No stage materializes the cross join.
"""

from __future__ import annotations

import os
from collections.abc import Sequence
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession, functions as F

from odoo_batch_processing_spark.functions.exprs import bind
from odoo_batch_processing_spark.functions.vector import cosine, to_double
from odoo_batch_processing_spark.operators.text import fingerprint, tokens
from odoo_batch_processing_spark.session import materialize_once, truncate_lineage
from odoo_batch_processing_spark.sources.loader import fan_out, load_table, table_row_count

SHINGLE_N = 3
MINHASH_K = 12
MINHASH_BANDS = 4  # 4 bands × 3 rows
SIMHASH_BITS = 32  # 16 bits collides heavily (28k chance-pairs at 500 docs)
SIMHASH_BANDS = 4  # 4 bands × 8 bits; exact for hamming ≤ 3
HAMMING_MAX = 3
JACCARD_MIN = 0.8
#: Hot-bucket cap for the inverted-index/LSH self-joins: a shingle (or
#: band key) shared by b documents contributes b·(b−1)/2 candidate
#: pairs, so one boilerplate shingle at 100 TB is an O(b²) skew bomb on
#: a single shuffle key. Buckets above the cap are dropped before the
#: pair join — boilerplate that common carries no near-dup signal (the
#: standard MinHash-pipeline mitigation). The default sits far above
#: every fixture bucket size, so fixture results are bit-identical
#: with or without the cap (asserted by tests/test_text_dedup.py).
HOT_BUCKET_CAP = 1000


def exact_dedup(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """dropDuplicates wrapper (arbitrary survivor — document why you
    can accept that before using it; otherwise use
    :func:`deterministic_dedup`)."""
    return df.dropDuplicates(list(keys))


def deterministic_dedup(df: DataFrame, keys: Sequence[str], id_col: str) -> DataFrame:
    """One survivor per key group: the row whose ``id_col`` is minimal
    (``id_col`` is the discriminator and must be unique within a group
    — typically the primary key).

    Implemented as a single ``min_by(struct(<non-key cols>), id_col)``
    aggregation: ONE scan of the input and ONE shuffle on the keys,
    with map-side partial min_by combining before the exchange. The
    previous min(id)+semi-join-back form scanned the input TWICE (the
    aggregate side and the join-back side) — value-identical, but the
    file-count ladder (SCALE.md round 11) surfaced the
    doubled per-file overhead as the family's only divergent stage at
    K=1024, and on a 100 TB relation the second scan is the cost that
    matters. A Window row_number would additionally sort within
    groups; min_by keeps only the running minimum per group.

    NULL contract (explicit, round 12):

    - **NULL key values follow SQL GROUP BY semantics**: NULLs group
      together, so a NULL-keyed group yields exactly one survivor.
      (The retired semi-join form silently dropped NULL-keyed rows via
      null-unsafe join equality — an accident of the implementation,
      not a contract; GROUP BY semantics is the documented behavior.)
    - **Rows with a NULL ``id_col`` can never be survivors** and are
      filtered before the aggregate (``min_by`` would skip them as
      ordering candidates anyway; the filter also makes a group whose
      ids are ALL NULL emit nothing rather than a synthetic all-NULL
      struct row). The predicate pushes to the scan.
    - ``id_col`` must not be one of ``keys``: the ordering would be
      constant within every group, making the survivor silently
      nondeterministic. Raises ``ValueError`` instead.
    - Ties on ``id_col`` keep ONE arbitrary tied row (uniqueness of
      ``id_col`` within a group is the caller's documented obligation;
      the old form degenerated to keeping every tied row).
    """
    if id_col in keys:
        raise ValueError(
            f"deterministic_dedup: id_col {id_col!r} is also a grouping key; "
            "the survivor ordering would be constant per group "
            "(silently nondeterministic survivor)"
        )
    survivor_alias = "_survivor"
    while survivor_alias in df.columns:
        survivor_alias = "_" + survivor_alias

    def _bq(name: str) -> F.Column:
        # backtick-quoted exact-name reference: plain F.col()/df[...]
        # parse dots as struct-field paths and break on names like
        # "a.b" (ADVICE r11)
        return F.col("`" + name.replace("`", "``") + "`")

    others = [c for c in df.columns if c not in keys]
    packed = (
        df.where(_bq(id_col).isNotNull())
        .groupBy(*[_bq(k).alias(k) for k in keys])
        .agg(
            F.min_by(
                F.struct(*[_bq(c).alias(c) for c in others]), _bq(id_col)
            ).alias(survivor_alias)
        )
    )
    # Column[str] is getField with a literal name — no dot parsing
    return packed.select(
        *[
            _bq(c) if c in keys else packed[survivor_alias][c].alias(c)
            for c in df.columns
        ]
    )


def _q_x2_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-normalized dedup over documents: group by content
    fingerprint, keep min doc_id, count copies."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(fingerprint(F.col("text")).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _q_x2_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated relation itself (deterministic survivor)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", fingerprint(F.col("text")).alias("fp")
    )
    return deterministic_dedup(docs, ["fp"], "doc_id").select("doc_id", "lang", "source")


def _q_x2_distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain DISTINCT on a column subset (the dropDuplicates shape
    made deterministic by projecting only the key columns)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("lang", "source").distinct()


# ---------------------------------------------------------------------------
# X3 near-dedup
# ---------------------------------------------------------------------------
def shingles(text: F.Column, n: int = SHINGLE_N) -> F.Column:
    """Distinct n-token shingles ('w1 w2 w3' strings).

    The token array is BOUND once per row (exprs.bind): referencing
    ``tokens(text)`` directly inside the position lambda embeds a copy
    of split+trim-filter at every reference, and HOF evaluation re-runs
    the body per element — Θ(T²) per doc in tokens, 85× at T=1000
    (SCALE.md round 8). Value-identical to the unbound form
    (tests/test_text_dedup.py::test_shingles_bound_equivalence)."""
    return bind(
        tokens(text),
        lambda tk: F.when(
            F.size(tk) >= n,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size(tk) - n + 1),
                    lambda i: F.concat_ws(" ", F.slice(tk, i, n)),
                )
            ),
        ).otherwise(F.array().cast("array<string>")),
    )


@lru_cache(maxsize=None)
def shingles_of_text(n: int = SHINGLE_N) -> F.Column:
    """``shingles(F.col("text"), n)`` built once per process per n —
    the canonical-column cache (see :func:`_signature_cols`) for
    callers that explode shingles straight off the ``text`` column."""
    return shingles(F.col("text"), n)


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exploded (doc_id, shingle) inverted-index relation,
    materialized once: every consumer fans out into several plan
    branches (sizes, hot-bucket cap, both self-join sides), and
    without the barrier each branch re-runs scan+tokenize+explode —
    measured 2× end-to-end on x3_ngram_jaccard at sf0.1. At corpus
    scale the same move is writing the shingle index to a table and
    reading it back (the index is reused across the dedup suite), so
    materialize-once is the scale-correct shape, not a local trick.
    The scan is fanned out first so the shingle computation (and the
    cached layout it freezes) uses every core, not the fixture's
    single parquet split."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    return docs.select(
        "doc_id", F.explode(shingles_of_text()).alias("sh")
    ).transform(materialize_once)


def cap_hot_buckets(
    df: DataFrame, keys: Sequence[str], cap: int = HOT_BUCKET_CAP
) -> DataFrame:
    """Drop rows whose bucket (distinct ``keys`` value) holds more than
    ``cap`` rows — the skew guard in front of every bucket self-join.

    Shape: count per key (map-side combinable) + semi join back on the
    same key, so Catalyst/AQE co-partition the two shuffles; no row
    data moves beyond the keys. ``cap=None``-like behavior is cap high
    enough that nothing trips (the fixture default).
    """
    keep = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__bucket_n"))
        .filter(F.col("__bucket_n") <= cap)
        .select(*keys)
    )
    return df.join(keep, list(keys), "left_semi")


def ngram_jaccard_pairs(
    doc_sh: DataFrame, threshold: float = JACCARD_MIN, cap: int = HOT_BUCKET_CAP
) -> DataFrame:
    """Inverted-index self-join: docs sharing ≥1 shingle → intersection
    counts → |A∩B| / (|A|+|B|−|A∩B|). Integer counts + one double
    division keep the score oracle-exact.

    Shingles shared by more than ``cap`` documents are dropped from the
    inverted index before the self-join (see HOT_BUCKET_CAP): their
    pair fan-out is quadratic and their dedup signal is nil. Sizes are
    computed BEFORE the cap, so scores of surviving pairs only ever
    shrink (a capped pipeline never over-reports similarity)."""
    sizes = doc_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    capped = cap_hot_buckets(doc_sh, ["sh"], cap)
    a = capped.select(F.col("doc_id").alias("doc_a"), "sh")
    b = capped.select(F.col("doc_id").alias("doc_b"), "sh")
    inter = (
        a.join(b, ["sh"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    # sizes has |docs| rows — SF-scaling, so no broadcast hint; the
    # threshold broadcasts it at fixture scale, AQE re-plans beyond.
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_signatures(doc_sets: DataFrame, k: int = MINHASH_K) -> DataFrame:
    """(doc_id, m0..m{k-1}): k md5 min-hash signatures computed
    entirely map-side from the per-doc shingle ARRAY —
    ``m_s = array_min(transform(sh_set, x -> md5(s|x)))``.

    Shape note: this is a zero-shuffle signature. The alternative —
    explode to (doc, shingle) rows and take k parallel MIN aggregates —
    pays the explode plus an aggregation exchange; here the signature
    never leaves the scan's partition, so at 100 TB the only shuffle in
    the whole LSH pipeline is the band-bucket join itself. Semantics
    are identical: ``shingles()`` already dedups the array, and MIN
    over exploded rows == array_min over the array. Docs with empty
    shingle sets get no signature row (the exploded form drops them the
    same way — and keeping them would hash all short docs into one
    degenerate band bucket).
    """
    return doc_sets.filter(F.size(F.col("sh_set")) > 0).select(
        "doc_id", *_signature_cols(k)
    )


@lru_cache(maxsize=None)
def _signature_cols(k: int) -> tuple:
    """The k min-hash signature Column expressions over ``sh_set``,
    built ONCE per process (OPTIMIZATION r17): Column objects are
    immutable unresolved expression trees, reusable across DataFrames
    and sessions, and constructing these k nested
    array_min(transform(md5(concat_ws))) trees is ~0.3 s of driver-side
    py4j chatter — which the streaming probe paid once per MICRO-BATCH
    (measured: plan construction was half the per-trigger wall)."""
    # NB: the seed must be bound via a closure factory — a two-arg
    # lambda (x, s=s) would be read by F.transform as (element, index)
    def _seeded(s: int):
        seed = F.lit(str(s))
        return lambda x: F.md5(F.concat_ws("|", seed, x))

    return tuple(
        F.array_min(F.transform(F.col("sh_set"), _seeded(s))).alias(f"m{s}")
        for s in range(k)
    )


def minhash_band_keys(
    doc_sets: DataFrame, k: int = MINHASH_K, bands: int = MINHASH_BANDS
) -> DataFrame:
    """(doc_id, band, band_key): the k min-hashes of
    :func:`minhash_signatures` folded into ``bands`` band keys
    (rows-per-band = k/bands). Input is the (doc_id, sh_set) per-doc
    shingle-array relation."""
    sig = minhash_signatures(doc_sets, k)
    return sig.select(
        "doc_id", F.explode(_band_struct_array(k, bands)).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))


@lru_cache(maxsize=None)
def _band_struct_array(k: int, bands: int) -> F.Column:
    """The banded (band, band_key) struct-array Column over m0..m{k-1},
    built once per process — same rationale as :func:`_signature_cols`."""
    rows_per_band = k // bands
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[
                            F.col(f"m{b * rows_per_band + r}")
                            for r in range(rows_per_band)
                        ],
                    )
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )


def lsh_candidate_pairs(
    band_keys: DataFrame, cap: int = HOT_BUCKET_CAP, precounted: bool = False
) -> DataFrame:
    """Docs sharing any band key → distinct candidate pairs.

    Band buckets larger than ``cap`` are dropped before the pair join
    (HOT_BUCKET_CAP): a degenerate band key (e.g. the signature of an
    empty/boilerplate shingle set) would otherwise pair up its whole
    bucket quadratically on one shuffle key.

    Two input shapes (review r14 #5), selected by the EXPLICIT
    ``precounted`` flag (ADVICE r15 #2 — previously inferred from the
    presence of a ``bucket_n`` column, which a computed relation could
    coincidentally carry, silently substituting stale counts for
    :func:`cap_hot_buckets`' fresh ones):

    * ``precounted=True`` — the relation carries a write-time
      ``bucket_n`` column (the v3 standing index; raises if absent)
      and is capped by a SCAN-LOCAL filter — zero extra shuffles, no
      persist, the parquet read-back is cheap to scan twice for the
      self-join.
    * ``precounted=False`` (default) — the relation is materialized
      once (this function reads it four times: bucket count +
      semi-join + both self-join sides, and without the barrier each
      branch would re-run the whole signature pipeline scan → shingle
      → k min-hashes) and capped by :func:`cap_hot_buckets`'s count +
      semi-join; any coincidental ``bucket_n`` column is ignored.

    Same drop semantics either way; the relation is |docs|×bands short
    rows — at corpus scale this is the signature index you'd write to
    a table and reuse."""
    if precounted:
        if "bucket_n" not in band_keys.columns:
            raise ValueError(
                "lsh_candidate_pairs(precounted=True) requires a write-time "
                "'bucket_n' column (the standing-index layout); got columns "
                f"{band_keys.columns}"
            )
        band_keys = band_keys.filter(F.col("bucket_n") <= cap).select(
            "doc_id", "band", "band_key"
        )
    else:
        band_keys = band_keys.select("doc_id", "band", "band_key").transform(
            materialize_once
        )
        band_keys = cap_hot_buckets(band_keys, ["band", "band_key"], cap)
    a = band_keys.select(F.col("doc_id").alias("doc_a"), "band", "band_key")
    b = band_keys.select(F.col("doc_id").alias("doc_b"), "band", "band_key")
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def simhash_from_tokens(toks: F.Column, bits: int = SIMHASH_BITS) -> F.Column:
    """Map-side simhash: the whole bit-wise majority vote folded over
    the token ARRAY in one pass — per-token 60-bit md5-derived hash,
    per-bit +1/−1 votes accumulated via ``aggregate`` with an
    array<bigint> accumulator, then the positive-vote bits summed into
    the code. Zero shuffle (the exploded :func:`simhash_expr` form
    pays an explode plus a 32-column aggregation exchange); votes use
    token MULTIPLICITY, exactly like the exploded GROUP BY. Returns
    NULL for token-less docs (the exploded form drops them — callers
    filter)."""
    harr = F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("bigint")
    )
    masks = F.array(*[F.lit(1 << i).cast("bigint") for i in range(bits)])
    zero = F.array_repeat(F.lit(0).cast("bigint"), bits)
    votes = F.aggregate(
        harr,
        zero,
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a
            + F.when(h.bitwiseAND(m) != 0, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    code = F.aggregate(
        F.zip_with(
            votes,
            masks,
            lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("bigint")),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return F.when(F.size(toks) > 0, code)


def simhash_expr(doc_tokens: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """(doc_id, simhash): per-token 60-bit md5-derived hash, bit-wise
    majority vote over tokens (with multiplicity) → ``bits``-bit code.

    The exploded GROUP BY twin of :func:`simhash_from_tokens` — kept
    as the semantic reference (and for pre-tokenized relations); the
    registered query uses the map-side form."""
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("bigint")
    hashed = doc_tokens.withColumn("h", h)
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(bits)
    ]
    per_doc = hashed.groupBy("doc_id").agg(*votes)
    code = None
    for i in range(bits):
        bit = F.when(F.col(f"v{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        code = bit if code is None else code + bit
    return per_doc.select("doc_id", code.cast("bigint").alias("simhash"))


def simhash_neardup_pairs(
    sim: DataFrame, bits: int = SIMHASH_BITS, bands: int = SIMHASH_BANDS, max_hamming: int = HAMMING_MAX
) -> DataFrame:
    """Banded SimHash pairing: split the code into ``bands`` equal bit
    bands; a pair within ``max_hamming`` (< bands) differs in at most
    max_hamming bands, so it must MATCH on ≥1 band — banding is exact,
    not approximate, for this threshold. Verify hamming on candidates.

    COST MODEL (the x3_simhash ladder entry, VERDICT r5 #6): wall time
    is dominated by the upstream per-doc vote fold — Θ(tokens · bits)
    map-side work, linear in corpus size and measured at ~85% of the
    query at mult 8 (fold 12.5 s vs join 0.9 s) — so the ladder norm
    tracks the linear fold, which is the floor for any simhash. The
    band join itself carries a CHANCE-COLLISION term ~n²/2^band_bits
    per band (unrelated codes agreeing on one 8-bit band): subdominant
    at fixture scales, but the quadratic hazard at 100 TB. Two
    mitigations, both standard: widen codes/bands at ingest (64-bit
    code, 16-bit bands → collision term /256), and the
    :func:`cap_hot_buckets` guard below on (band, band_val) — added
    round 6, mirrored in the x3_simhash oracle's QUALIFY — which hard-
    bounds any one bucket's fan-out; a doc dropped from a hot band
    stays matchable through its other bands.
    """
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    banded = sim.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col("simhash"), i * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", F.col("bk.band").alias("band"), F.col("bk.band_val").alias("band_val"))
    # materialized once: both self-join sides read it, and the
    # upstream signature scan should run once, not twice (the
    # lsh_candidate_pairs convention; |docs|×bands short rows)
    banded = banded.transform(materialize_once)
    banded = cap_hot_buckets(banded, ["band", "band_val"])
    a = banded.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sim_a"), "band", "band_val"
    )
    b = banded.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sim_b"), "band", "band_val"
    )
    return (
        a.join(b, ["band", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sim_a", "sim_b")
        .distinct()
        .withColumn(
            "hamming",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def _q_x3_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(_doc_shingles(spark, sf_dir))


@lru_cache(maxsize=None)
def _shingle_set_cols() -> tuple:
    """(sh_set, n_sh) Column expressions over ``text``, built once per
    process — same rationale as :func:`_signature_cols` (the nested
    bind/transform shingle tree is ~0.1 s of py4j construction)."""
    sh = shingles_of_text()
    return (sh.alias("sh_set"), F.size(sh).alias("n_sh"))


def _shingle_sets_of(docs: DataFrame) -> DataFrame:
    """(doc_id, sh_set, n_sh) for an ALREADY-SELECTED document slice —
    the shingle expressions are attached after whatever filter/semi-join
    the caller applied, so only surviving rows pay the tokenize+shingle
    CPU (load-bearing for the incremental path, which shingles the
    verify set, not the corpus)."""
    return docs.select("doc_id", *_shingle_set_cols())


def _doc_shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh_set, n_sh): the per-doc distinct-shingle array —
    the map-side input for minhash signatures and Jaccard verify. No
    materialization needed: unlike the exploded inverted index, each
    consumer reads it in a single scan-local pass. Fanned out so the
    shingle build (and any persist/checkpoint a caller takes of it) is spread
    across the session's cores, not the fixture's one parquet split."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    return _shingle_sets_of(docs)


def corpus_fingerprint(path: str) -> str:
    """16-hex content key for a fixture file/directory: abs path +
    mtime_ns + size of the path and (for directories) every child.
    Keys the write-time indexes below — a rewritten corpus changes the
    key, so a stale index is simply never found (same contract as
    loader.events_ts_unit's probe cache)."""
    import hashlib

    parts = [os.path.abspath(path)]
    st = os.stat(path)
    parts.append(f"{st.st_mtime_ns}:{st.st_size}")
    if os.path.isdir(path):
        for name in sorted(os.listdir(path)):
            cst = os.stat(os.path.join(path, name))
            parts.append(f"{name}:{cst.st_mtime_ns}:{cst.st_size}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:16]


def ensure_minhash_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STANDING write-time signature index for a corpus: the
    (doc_id, band, band_key) relation, persisted parquet partitioned
    by band, built AT MOST ONCE per corpus content and read back by
    every later caller.

    This is the asset a real dedup deployment maintains at ingest
    time: the expensive pass (scan → tokenize → shingle → k min-hashes)
    runs once per document ever, and everything downstream — full-corpus
    pair generation, re-runs with different caps, and the daily
    incremental probe of a new batch — is an index READ, O(index) or
    O(batch), never a corpus re-shingle. Built through
    :func:`sinks.staged_once` (review r14 #3): keyed on
    :func:`corpus_fingerprint` so a rewritten corpus rebuilds and a
    repeated run reuses, and the build lands in a private temp dir
    committed by one atomic rename — two racing builders (two
    processes probing the same fresh corpus) can no longer interleave
    overwrite jobs into the shared keyed dir, and a torn build never
    leaves a half-written index behind a green marker.

    The index also carries ``bucket_n`` — the (band, band_key) bucket
    population, computed once at write time — so the hot-bucket skew
    guard at probe time is a scan-local ``filter(bucket_n <= cap)``
    instead of :func:`cap_hot_buckets`' count + semi-join pair of
    shuffles. Same drop semantics, zero probe-side shuffle."""
    from odoo_batch_processing_spark.session import materialized_scope
    from odoo_batch_processing_spark.sources.sinks import staged_once

    src = os.path.join(sf_dir, "documents.parquet")

    # v2: bucket_n added to the stored schema; v3: same layout, but the
    # commit protocol moved to staged_once (atomic rename + _STAGED
    # marker) — the name bump keeps pre-upgrade _SUCCESS-gated dirs
    # from ever being misread as committed v3 indexes
    def _build(d: str) -> None:
        # scope the build's two pins: the index is built at most once
        # per corpus, but a long-lived caller (the streaming probe's
        # first micro-batch) must not keep corpus-scale shingle blocks
        # pinned after the parquet write committed
        with materialized_scope():
            sets = _doc_shingle_sets(spark, sf_dir).transform(materialize_once)
            bk = minhash_band_keys(sets).transform(materialize_once)
            sizes = bk.groupBy("band", "band_key").agg(
                F.count(F.lit(1)).cast("bigint").alias("bucket_n")
            )
            bk.join(sizes, ["band", "band_key"]).write.mode("overwrite").partitionBy(
                "band"
            ).parquet(d)

    path = staged_once("minhash-index-v3", src, _build)
    # explicit schema: an EMPTY corpus writes a partitioned dir with
    # zero data files, and schema inference on it would throw — the
    # index contract (including "probe an empty standing corpus")
    # must not depend on at least one row existing
    index_schema = (
        "doc_id bigint, band_key string, bucket_n bigint, band int"
    )
    return spark.read.schema(index_schema).parquet(path).select(
        "doc_id", F.col("band").cast("int").alias("band"), "band_key", "bucket_n"
    )


def _q_x3_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sh_set is materialized BEFORE the k signature expressions read
    # it: project-collapse would otherwise inline the shingle
    # construction into every one of the k array_min columns (k×
    # re-tokenization — measured ~1.7× end-to-end at sf0.1)
    sets = _doc_shingle_sets(spark, sf_dir).transform(materialize_once)
    return lsh_candidate_pairs(minhash_band_keys(sets))


def _q_x3_minhash_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`x3_minhash_lsh` against a WRITE-TIME signature index.

    The (doc_id, band, band_key) relation is persisted partitioned by
    band, then candidate pairs come from the read-back — the asset a
    real dedup deployment maintains: signatures are computed once per
    ingest (the expensive shingle+hash pass), while pair generation,
    re-runs with different caps, and incremental joins of NEW batches
    against the standing index all read the index, not the corpus.
    Same output and oracle as x3_minhash_lsh; only the access path
    differs (band-partition pruning applies when probing single bands).
    Since round 4 the index is the content-keyed standing one
    (:func:`ensure_minhash_index`): built at most once per corpus,
    shared with the incremental probe. The index carries the
    write-time ``bucket_n`` column, so :func:`lsh_candidate_pairs`
    caps hot buckets with a scan-local filter here — zero probe-side
    shuffles and no re-persist of the read-back (review r14 #5),
    the same form :func:`probe_standing_index` uses.
    """
    return lsh_candidate_pairs(ensure_minhash_index(spark, sf_dir), precounted=True)


def _q_x3_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup of a NEW ingest batch against the standing corpus —
    the daily-ingest workhorse: which existing documents does each new
    arrival duplicate (and which new arrivals duplicate each other)?

    The new batch is the top decile of doc_id (a stand-in for "today's
    partition"). Since round 4 the O(batch) claim is real end-to-end
    (VERDICT r3 #2): the standing corpus side comes from the
    content-keyed WRITE-TIME index (:func:`ensure_minhash_index` —
    built once per corpus ever, a parquet read here), the new batch's
    band keys are computed from the batch's text only (the filter is
    applied before the shingle expressions are attached), and the
    exact-Jaccard verify re-shingles only documents that appear in a
    candidate pair (semi-join pruning before the shingle projection).
    No stage tokenizes the full corpus. Old×old pairs are never
    generated — doc_a comes from the index probe of the batch's keys,
    so the shuffle is O(|batch keys| + matched buckets). The threshold
    travels as a 1-row aggregate joined on a constant key
    (auto-broadcast by the size threshold — no hint, no cross join).

    Deliberately NO ``fan_out`` on the corpus scan here: fan_out is a
    full-relation exchange, and this query's contract is that nothing
    O(corpus) shuffles — the batch is repartitioned AFTER the decile
    filter, so only batch rows (and the pruned doc_id column for the
    threshold) ever move."""
    docs = load_table(spark, sf_dir, "documents")
    thresh = docs.agg(
        F.floor(F.lit(9.0) * F.max("doc_id") / F.lit(10.0)).cast("bigint").alias("t")
    ).withColumn("__k", F.lit(1))
    new_docs = fan_out(
        docs.withColumn("__k", F.lit(1))
        .join(thresh, "__k")
        .filter(F.col("doc_id") > F.col("t"))
        .drop("__k", "t"),
        spark,
        "doc_id",
    )
    return probe_standing_index(spark, sf_dir, new_docs)


def probe_standing_index(
    spark: SparkSession, sf_dir: str, new_docs: DataFrame
) -> DataFrame:
    """The O(batch) probe core shared by the batch incremental query
    and its streaming (per-micro-batch) form: band keys from the new
    docs' text only → equi-join against the standing write-time index
    → exact-Jaccard verify over the touched docs. Returns verified
    (doc_a, doc_b, jaccard) with doc_b drawn from ``new_docs``."""
    docs = load_table(spark, sf_dir, "documents")
    # barrier before the k signature expressions: project-collapse
    # would otherwise inline the shingle build into every one of the
    # k array_min columns (k× re-shingle of the batch — measured 3s
    # of this query's 5s wall at sf0.1 before the barrier)
    new_sets = _shingle_sets_of(new_docs).transform(materialize_once)
    new_keys = minhash_band_keys(new_sets).select(
        F.col("doc_id").alias("doc_b"), "band", "band_key"
    )
    # skew guard is a scan-local filter on the write-time bucket_n
    # column — no probe-side count/semi-join, one index read total
    index_side = (
        ensure_minhash_index(spark, sf_dir)
        .filter(F.col("bucket_n") <= HOT_BUCKET_CAP)
        .select(F.col("doc_id").alias("doc_a"), "band", "band_key")
    )
    candidates = (
        index_side.join(new_keys, ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
        .transform(materialize_once)
    )
    touched = (
        candidates.select(F.col("doc_a").alias("doc_id"))
        .union(candidates.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # one scan + one shingle pass over the ~|touched| docs feeds both
    # sides of the verify join (the a/b selects would otherwise each
    # re-scan the corpus)
    verify_sets = _shingle_sets_of(docs.join(touched, "doc_id", "left_semi")).transform(
        materialize_once
    )
    return verify_candidate_pairs(candidates, verify_sets)


def _q_x3_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan out: the per-doc vote fold is the whole query's CPU cost.
    # The token-less-doc drop is a PRE-filter on size(tokens(text)),
    # not a post-filter on simhash IS NOT NULL: the null form is
    # predicate-pushed below the projection with the whole vote fold
    # inlined into the Filter, which re-runs the fold once more per
    # row (2× the query's dominant cost; in the mm twin the same
    # pushdown was Θ(bytes²) — see mm_stream_fingerprints). simhash
    # is NULL exactly when size(toks) == 0 (simhash_from_tokens's
    # `when` guard), so the two forms are row-identical.
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    sim = docs.filter(F.size(tokens(F.col("text"))) > 0).select(
        "doc_id", simhash_from_tokens(tokens(F.col("text"))).alias("simhash")
    )
    return simhash_neardup_pairs(sim)


#: corpus-size thresholds → sign-bit subcell depth for the embedding
#: near-dup cells: (upper_bound_exclusive, bits) pairs, else the last
#: depth. Deepening the quantizer as the corpus grows is what keeps
#: the in-cell pair join's per-cell population — and with it the
#: quadratic in-cell term — FLAT under scale-up (round-6 ladder: the
#: static 3-bit split went superlinear at mult 8, norm 2.07). The rule
#: is a pure function of COUNT(*), so the DuckDB oracle computes the
#: identical depth from a scalar subquery at any sf.
EMB_CELL_DEPTHS = ((10_000, 3), (20_000, 4), (40_000, 5))
EMB_CELL_MAX_BITS = 6


def emb_subcell_bits(n: int) -> int:
    """Subcell sign-bit depth for an ``n``-vector corpus (see
    EMB_CELL_DEPTHS)."""
    for bound, bits in EMB_CELL_DEPTHS:
        if n < bound:
            return bits
    return EMB_CELL_MAX_BITS


def _emb_subcell_sql() -> str:
    """DuckDB twin of ``ivf_bucket(embedding, emb_subcell_bits(n))`` —
    the depth rule enumerated as a CASE over the same thresholds, the
    scalar COUNT(*) standing in for the Spark side's driver count."""

    def expr(bits: int) -> str:
        return (
            "("
            + " + ".join(
                f"CASE WHEN embedding[{i + 1}] > 0 THEN {1 << (bits - 1 - i)} ELSE 0 END"
                for i in range(bits)
            )
            + ")"
        )

    branches = " ".join(
        f"WHEN (SELECT COUNT(*) FROM embeddings) < {bound} THEN {expr(bits)}"
        for bound, bits in EMB_CELL_DEPTHS
    )
    return f"CASE {branches} ELSE {expr(EMB_CELL_MAX_BITS)} END"


def _q_x3_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest cosine neighbor per vector within its quantizer cell —
    the embedding near-dup candidate list.

    Cell = (label, sign bits of the leading dimensions) — the
    two-level IVF idiom from operators/similarity.ivf_bucket. The
    secondary sign-bit split bounds the cell population (the raw
    ``label`` cell grows linearly with the corpus, making the in-cell
    pair join O(n²) per label — round-1's slowest query at 10.8 s/sf0.1;
    with 8 subcells the pair count drops ~8×). Since round 6 the split
    DEPTH is corpus-adaptive (emb_subcell_bits: 3 bits under 10k
    vectors up to 6 bits at 40k+) so the per-cell population — and the
    quadratic in-cell pair term the 8× ladder flagged — stays flat as
    the corpus grows; the depth rule is a pure function of COUNT(*),
    mirrored in the oracle as a CASE over a scalar subquery. At 100 TB
    the cells come from write-time k-means with recursive splitting of
    over-full cells; the adaptive sign-bit split is the deterministic,
    oracle-checkable stand-in with the same plan shape (equi-join on
    the cell key)."""
    from pyspark.sql import Window

    from odoo_batch_processing_spark.functions.vector import dot, norm, normalized
    from odoo_batch_processing_spark.operators.similarity import ivf_bucket

    raw = load_table(spark, sf_dir, "embeddings")
    # exact corpus cardinality from the parquet FOOTER (r18:
    # loader.table_row_count) — the depth rule is a pure function of
    # COUNT(*), and an unfiltered count needs no scan job
    bits = emb_subcell_bits(table_row_count(sf_dir, "embeddings"))
    emb = fan_out(raw, spark, "vec_id")
    unit = (
        emb.select(
            "label",
            ivf_bucket(F.col("embedding"), bits=bits).alias("subcell"),
            "vec_id",
            to_double(F.col("embedding")).alias("__v"),
        )
        .withColumn("__n", norm(F.col("__v")))
        .select("label", "subcell", "vec_id", normalized(F.col("__v"), F.col("__n")).alias("uv"))
    )
    a = unit.select("label", "subcell", "vec_id", F.col("uv").alias("va"))
    b = unit.select(
        "label", "subcell", F.col("vec_id").alias("nn_id"), F.col("uv").alias("vb")
    )
    scored = (
        a.join(b, ["label", "subcell"])
        .filter(F.col("vec_id") != F.col("nn_id"))
        .withColumn("cos_sim", dot(F.col("va"), F.col("vb")))
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cos_sim").desc(), F.col("nn_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "nn_id", "cos_sim")
    )


def _q_x3_incremental_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embedding twin of ``x3_incremental_neardup``: nearest
    cosine neighbor for each NEW vector (top doc-id decile — today's
    ingest) against the STANDING corpus, probing only the new
    vectors' quantizer cells. Old×old pairs are never generated, so
    daily re-ingest cost is O(batch × cell population), not
    O(corpus²) — with the write-time cell-partitioned index
    (similarity.write_ivf_index) each probe is a partition prune.
    The threshold travels as a 1-row aggregate on a constant key
    (auto-broadcast; same free scalar shape as x3_incremental).
    Same corpus-adaptive subcell depth as x3_embedding_neardup."""
    from pyspark.sql import Window

    from odoo_batch_processing_spark.functions.vector import dot, norm, normalized
    from odoo_batch_processing_spark.operators.similarity import ivf_bucket

    raw = load_table(spark, sf_dir, "embeddings")
    # exact corpus cardinality from the parquet FOOTER (r18:
    # loader.table_row_count) — the depth rule is a pure function of
    # COUNT(*), and an unfiltered count needs no scan job
    bits = emb_subcell_bits(table_row_count(sf_dir, "embeddings"))
    emb = fan_out(raw, spark, "vec_id")
    unit = (
        emb.select(
            "label",
            ivf_bucket(F.col("embedding"), bits=bits).alias("subcell"),
            "vec_id",
            to_double(F.col("embedding")).alias("__v"),
        )
        .withColumn("__n", norm(F.col("__v")))
        .select(
            "label", "subcell", "vec_id", normalized(F.col("__v"), F.col("__n")).alias("uv")
        )
        .transform(materialize_once)
    )
    thresh = unit.agg(
        F.floor(F.lit(9.0) * F.max("vec_id") / F.lit(10.0)).cast("bigint").alias("t")
    ).withColumn("__k", F.lit(1))
    probes = (
        unit.withColumn("__k", F.lit(1))
        .join(thresh, "__k")
        .filter(F.col("vec_id") > F.col("t"))
        .select("label", "subcell", "vec_id", F.col("uv").alias("va"))
    )
    index = unit.select(
        "label", "subcell", F.col("vec_id").alias("nn_id"), F.col("uv").alias("vb")
    )
    scored = (
        probes.join(index, ["label", "subcell"])
        .filter(F.col("vec_id") != F.col("nn_id"))
        .withColumn("cos_sim", dot(F.col("va"), F.col("vb")))
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cos_sim").desc(), F.col("nn_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "nn_id", "cos_sim")
    )


# Core: the deduplicated-relation query (THE exact-dedup semantic) and
# all four near-dup detectors. Extended: the fingerprint-group
# intermediate and the trivial DISTINCT projection.
def verify_candidate_pairs(
    candidates: DataFrame, doc_shingle_sets: DataFrame, threshold: float = JACCARD_MIN
) -> DataFrame:
    """Exact-Jaccard verification of LSH candidate pairs.

    ``doc_shingle_sets``: (doc_id, sh_set array, n_sh). The verify is
    two equi-joins of the (small) candidate relation against the
    per-doc shingle sets + one JVM array_intersect per pair — work is
    O(|candidates| · shingle-set size), never a second inverted-index
    pass over the corpus. Distinct-shingle counts make the score
    identical to :func:`ngram_jaccard_pairs`' inverted-index form."""
    a = doc_shingle_sets.select(
        F.col("doc_id").alias("doc_a"), F.col("sh_set").alias("sh_a"), F.col("n_sh").alias("n_a")
    )
    b = doc_shingle_sets.select(
        F.col("doc_id").alias("doc_b"), F.col("sh_set").alias("sh_b"), F.col("n_sh").alias("n_b")
    )
    # one select, not a withColumn chain: every withColumn re-analyzes
    # a grown plan driver-side (the streaming probe pays this per
    # micro-batch); the optimizer collapsed the chain to exactly this
    # projection anyway, with codegen eliminating the repeated n_inter
    # subexpression — plan- and value-identical.
    n_inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    jaccard = n_inter.cast("double") / (F.col("n_a") + F.col("n_b") - n_inter)
    return (
        candidates.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", jaccard.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


#: Edge-count ceiling for the driver-local CC path: 200k edges is a
#: few MB of longs — smaller than relations Spark routinely
#: broadcasts, and far below driver heap.
CC_LOCAL_EDGE_CAP = 200_000


def _cc_local(vertices: DataFrame, rows: Sequence, id_col: str) -> DataFrame:
    """Driver-side union-find over collected ``(doc_a, doc_b)`` edge
    rows — the CC analog of a broadcast join: at or below
    :data:`CC_LOCAL_EDGE_CAP` a distributed round is all fixed
    overhead (shuffles, count actions and a lineage cut per round) for
    work a union-find does in microseconds. Every vertex is labeled
    with the min vertex id of its component.

    Only EDGE ENDPOINTS are held on the driver (≤ 2·edge-cap ids) — the
    vertex relation may be corpus-scale (isolated vertices label
    themselves), so isolates stay distributed: an anti-join against
    the endpoint labels, unioned back. The edge cap therefore bounds
    driver memory regardless of |vertices|."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    touched: set = set()
    for a, b in rows:
        touched.add(a)
        touched.add(b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)  # min-id root ⇒ min-id label
    spark = vertices.sparkSession
    id_type = dict(vertices.dtypes)[id_col]
    schema = f"{id_col} {id_type}, cluster_id {id_type}"
    labeled = spark.createDataFrame(
        [(i, find(i)) for i in sorted(touched)], schema
    )
    isolates = vertices.select(id_col).join(
        labeled.select(id_col), id_col, "left_anti"
    )
    return labeled.union(
        isolates.select(F.col(id_col), F.col(id_col).alias("cluster_id"))
    )


def connected_components(
    vertices: DataFrame, edges: DataFrame, id_col: str = "doc_id", max_iters: int = 25
) -> DataFrame:
    """Connected components of the ``(doc_a, doc_b)`` pair graph.

    One rule, decided by what the edge set holds: the first
    ``CC_LOCAL_EDGE_CAP + 1`` edges are collected in one job; if that
    is all of them, driver-side union-find (:func:`_cc_local`) labels
    the graph from those rows. A larger graph runs
    :func:`connected_components_star` (O(log n) rounds, at most
    ``max_iters`` of them, failing loudly past that budget).

    Returns (id_col, cluster_id): every vertex labeled with the min
    vertex id of its component (isolated vertices label themselves).
    """
    rows = edges.select("doc_a", "doc_b").limit(CC_LOCAL_EDGE_CAP + 1).collect()
    if len(rows) <= CC_LOCAL_EDGE_CAP:
        return _cc_local(vertices, rows, id_col)
    return connected_components_star(vertices, edges, id_col, max_iters)[0]


def connected_components_star(
    vertices: DataFrame, edges: DataFrame, id_col: str = "doc_id", max_iters: int = 25
) -> tuple[DataFrame, int]:
    """Connected components by alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the distributed path of :func:`connected_components`
    for pair graphs above :data:`CC_LOCAL_EDGE_CAP`.

    Each round rewrites the edge set with two groupBy+join passes:

    * **large-star**: every neighbor of ``u`` LARGER than ``u`` is
      re-pointed at ``min(N(u) ∪ {u})``;
    * **small-star**: ``u`` and its smaller neighbors are re-pointed
      at their minimum.

    Distances to the component minimum roughly halve per round, so
    convergence is O(log n) rounds even on a LONG CHAIN, where a
    one-hop label propagation needs O(n). Converged state is a star
    per component: every non-min vertex holds one edge to its
    component minimum. Per-round cost is shuffles on vertex ids, with
    volume bounded by the current edge set, which only shrinks toward
    one edge per non-min vertex.

    Returns (labels, rounds): (id_col, cluster_id) for every vertex,
    each labeled with the min vertex id of its component, plus the
    round count the loop took.
    """
    e = (
        edges.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .transform(truncate_lineage)
    )
    def _star_round(cur: DataFrame) -> tuple[DataFrame, int]:
        # large-star over the symmetric neighborhood
        sym = cur.union(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            sym.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star over larger→smaller directed edges
        dir_ = large.select(
            F.greatest("u", "v").alias("a"), F.least("u", "v").alias("b")
        ).distinct()
        mins2 = dir_.groupBy("a").agg(F.min("b").alias("m"))
        small = (
            dir_.join(mins2, "a")
            .select(F.col("b").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .union(mins2.select(F.col("a").alias("u"), F.col("m").alias("v")))
            .distinct()
            .transform(truncate_lineage)
        )
        # converged when the edge set is a fixed point (set equality —
        # both relations are distinct, so two anti-join counts suffice)
        n_changed = small.exceptAll(cur).count() + cur.exceptAll(small).count()
        return small, n_changed

    rounds = 0
    for _ in range(max_iters):
        rounds += 1
        e, changed = _star_round(e)
        if changed == 0:
            break
    else:
        # one unbudgeted CONFIRMING round: a contraction that reaches
        # the fixed point on EXACTLY round max_iters is final but
        # unconfirmed — probe once more before refusing.
        e, changed = _star_round(e)
        if changed:
            # a non-fixed-point edge set means labels derived from it
            # are not component minima — refuse to return them rather
            # than split one component into two clusters.
            raise RuntimeError(
                "connected_components_star: star contraction did not "
                f"reach a fixed point in max_iters={max_iters} rounds "
                f"({changed:,} edge changes in the confirming round) — "
                "raise max_iters (rounds needed grow O(log component "
                "size))"
            )
    labels = e.groupBy("u").agg(F.min("v").alias("comp"))
    out = (
        vertices.select(F.col(id_col).alias("id"))
        .join(labels.withColumnRenamed("u", "id"), "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("comp"), F.col("id")).alias("cluster_id"),
        )
    )
    return out, rounds


def _q_x3_neardup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup pipeline end-to-end: MinHash-LSH candidates →
    exact-Jaccard verify → connected components → cluster assignment.

    Output is (doc_id, cluster_id) for EVERY document; the survivor
    set is the rows with doc_id == cluster_id (deterministic min-id
    representative, mirroring x2_dedup_survivors), so the full
    clustering — not just the survivor list — sits under the oracle
    hash. Oracle: the same LSH + verify restated in SQL, closure via a
    recursive CTE."""
    docs = load_table(spark, sf_dir, "documents")
    # materialized once: consumed by the signature pipeline AND both
    # sides of the verify join (re-tokenizing the corpus 3× otherwise)
    sets = _doc_shingle_sets(spark, sf_dir).transform(materialize_once)
    candidates = lsh_candidate_pairs(minhash_band_keys(sets))
    edges = verify_candidate_pairs(candidates, sets)
    edges = edges.transform(materialize_once)  # LSH + verify runs once, not per CC read
    # every document is a vertex; connected_components labels the ones
    # with no verified edge with their own id
    return connected_components(docs.select("doc_id"), edges)


def _q_x3_fuzzy_join_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (edit-distance ≤ 2) self-join of part names within brand
    buckets — the entity-matching primitive (typo'd product names,
    OCR'd titles) the set-based near-dup family can't express because
    Levenshtein respects character ORDER.

    Scale shape is the same capped-blocking discipline as LSH: the
    equi-join key (brand block) bounds the candidate pair space, a
    CHEAP necessary condition prunes before the O(n·m) DP —
    ``|len(a) − len(b)| ≤ k`` must hold for distance ≤ k — and only
    surviving candidates pay `levenshtein()` (JVM codegen, no UDF).
    On real data the block key is a cheap canonical key (soundex /
    first-k chars / length band) rather than an existing column.
    """
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_name")
    a = part.select(
        "p_brand",
        F.col("p_partkey").alias("id_a"),
        F.col("p_name").alias("name_a"),
    )
    b = part.select(
        "p_brand",
        F.col("p_partkey").alias("id_b"),
        F.col("p_name").alias("name_b"),
    )
    pairs = (
        a.join(b, "p_brand")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            (F.length("name_a") - F.length("name_b")).between(-2, 2)
        )
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= 2)
    )
    return pairs.select("id_a", "id_b", "dist")


QUERIES = {
    "x2_dedup_survivors": _q_x2_dedup_survivors,
    "x3_neardup_survivors": _q_x3_neardup_survivors,
    "x3_ngram_jaccard": _q_x3_ngram_jaccard,
    "x3_minhash_lsh": _q_x3_minhash_lsh,
    "x3_simhash": _q_x3_simhash,
    "x3_embedding_neardup": _q_x3_embedding_neardup,
    # the daily-ingest workhorse: new-batch probes against the
    # persisted band index cost O(batch), not O(corpus)
    "x3_incremental_neardup": _q_x3_incremental_neardup,
    "x2_dedup_fingerprint": _q_x2_dedup_fingerprint,
    "x2_distinct_pairs": _q_x2_distinct_pairs,
    "x3_minhash_indexed": _q_x3_minhash_indexed,
    "x3_incremental_embedding_neardup": _q_x3_incremental_embedding_neardup,
    "x3_fuzzy_join_parts": _q_x3_fuzzy_join_parts,
}

_FP = "md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))"

ORACLES = {
    "x2_dedup_fingerprint": f"""
        SELECT {_FP} AS fp,
               MIN(doc_id) AS keep_id,
               COUNT(1) AS n_copies
        FROM documents GROUP BY 1
    """,
    "x2_dedup_survivors": f"""
        WITH keyed AS (SELECT doc_id, lang, source, {_FP} AS fp FROM documents),
             keep AS (SELECT fp, MIN(doc_id) AS doc_id FROM keyed GROUP BY fp)
        SELECT k.doc_id, k.lang, k.source
        FROM keyed k JOIN keep USING (fp, doc_id)
    """,
    "x2_distinct_pairs": """
        SELECT DISTINCT lang, source FROM documents
    """,
}

_SHINGLES = (
    "list_distinct(list_transform(range(1, len(toks) - 1), "
    "i -> array_to_string(list_slice(toks, i, i + 2), ' ')))"
)
_DOC_SH = f"""
    SELECT doc_id, unnest({_SHINGLES}) AS sh
    FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> trim(x) <> '') AS toks
          FROM documents)
"""

# HOT_BUCKET_CAP mirrored in SQL (the §7.5 witness rule): the engine
# drops shingle / band buckets over the cap BEFORE the self-join
# (cap_hot_buckets / lsh_candidate_pairs / the index-probe bucket_n
# filter), so every oracle over those buckets needs the same QUALIFY —
# without it the two sides agree only while no fixture bucket exceeds
# 1000, a vacuous agreement the round-10 cap sweep flagged (only the
# simhash oracle carried the mirror). tests/test_cap_witness.py plants
# an 1100-doc bucket and asserts engine == capped oracle while the
# uncapped pipeline diverges. Sizes stay computed from the UNCAPPED
# doc_sh, matching the engine's "scores only ever shrink" contract.
_SH_CAPPED = (
    "SELECT * FROM doc_sh QUALIFY COUNT(*) OVER (PARTITION BY sh)"
    f" <= {HOT_BUCKET_CAP}"
)
_BANDS_CAPPED = (
    "SELECT * FROM bands QUALIFY COUNT(*) OVER (PARTITION BY band, band_key)"
    f" <= {HOT_BUCKET_CAP}"
)

ORACLES["x3_ngram_jaccard"] = f"""
    WITH doc_sh AS ({_DOC_SH}),
    sh_capped AS ({_SH_CAPPED}),
    sizes AS (SELECT doc_id, COUNT(1) AS n_sh FROM doc_sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(1) AS n_inter
        FROM sh_capped a JOIN sh_capped b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= {JACCARD_MIN}
"""

_MINHASH_SIG_COLS = ", ".join(
    f"MIN(md5('{s}' || '|' || sh)) AS m{s}" for s in range(MINHASH_K)
)
_MINHASH_BAND_SELECTS = " UNION ALL ".join(
    "SELECT doc_id, {b} AS band, md5({expr}) AS band_key FROM sig".format(
        b=b,
        expr=" || '|' || ".join(
            f"m{b * (MINHASH_K // MINHASH_BANDS) + r}"
            for r in range(MINHASH_K // MINHASH_BANDS)
        ),
    )
    for b in range(MINHASH_BANDS)
)

ORACLES["x3_minhash_lsh"] = f"""
    WITH doc_sh AS ({_DOC_SH}),
    sig AS (SELECT doc_id, {_MINHASH_SIG_COLS} FROM doc_sh GROUP BY doc_id),
    bands AS ({_MINHASH_BAND_SELECTS}),
    bands_capped AS ({_BANDS_CAPPED})
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands_capped a JOIN bands_capped b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
"""

_SIMHASH_VOTES = ", ".join(
    f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
    for i in range(SIMHASH_BITS)
)
_SIMHASH_CODE = " + ".join(
    f"CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END" for i in range(SIMHASH_BITS)
)
_SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS
_SIMHASH_MASK = (1 << _SIMHASH_BAND_BITS) - 1

ORACLES["x3_simhash"] = f"""
    WITH doc_tok AS (
        SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> trim(x) <> '')) AS tok
        FROM documents
    ),
    hashed AS (
        SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h FROM doc_tok
    ),
    votes AS (SELECT doc_id, {_SIMHASH_VOTES} FROM hashed GROUP BY doc_id),
    codes AS (SELECT doc_id, CAST({_SIMHASH_CODE} AS BIGINT) AS simhash FROM votes),
    banded AS (
        SELECT doc_id, simhash, band,
               (simhash >> (band * {_SIMHASH_BAND_BITS})) & {_SIMHASH_MASK} AS band_val
        FROM codes CROSS JOIN (SELECT unnest(range({SIMHASH_BANDS})) AS band) bands
    ),
    capped AS (
        SELECT * FROM banded
        QUALIFY COUNT(*) OVER (PARTITION BY band, band_val) <= {HOT_BUCKET_CAP}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                        a.simhash AS sim_a, b.simhash AS sim_b
        FROM capped a JOIN capped b
          ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS INTEGER) AS hamming
    FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= {HAMMING_MAX}
"""

# DuckDB's levenshtein() is the same unrestricted edit distance as
# Spark's; the length prefilter is a necessary condition of dist<=2,
# so the plain-join oracle needs no twin of it.
ORACLES["x3_fuzzy_join_parts"] = """
    SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 2
"""

ORACLES["x3_embedding_neardup"] = f"""
    WITH v AS (
        SELECT vec_id, label,
               {_emb_subcell_sql()} AS subcell,
               list_transform(raw, x -> x / sqrt(list_dot_product(raw, raw))) AS vec
        FROM (SELECT vec_id, label, embedding, embedding::DOUBLE[] AS raw FROM embeddings)
    ),
    scored AS (
        SELECT a.vec_id, b.vec_id AS nn_id,
               list_dot_product(a.vec, b.vec) AS cos_sim
        FROM v a JOIN v b
          ON a.label = b.label AND a.subcell = b.subcell AND a.vec_id <> b.vec_id
    )
    SELECT vec_id, nn_id, cos_sim FROM (
        SELECT vec_id, nn_id, cos_sim,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, nn_id) AS rn
        FROM scored
    ) WHERE rn = 1
"""

ORACLES["x3_incremental_embedding_neardup"] = f"""
    WITH v AS (
        SELECT vec_id, label,
               {_emb_subcell_sql()} AS subcell,
               list_transform(raw, x -> x / sqrt(list_dot_product(raw, raw))) AS vec
        FROM (SELECT vec_id, label, embedding, embedding::DOUBLE[] AS raw FROM embeddings)
    ),
    t AS (SELECT CAST(floor(9 * MAX(vec_id) / 10.0) AS BIGINT) AS t FROM embeddings),
    scored AS (
        SELECT a.vec_id, b.vec_id AS nn_id,
               list_dot_product(a.vec, b.vec) AS cos_sim
        FROM v a
        JOIN t ON a.vec_id > t.t
        JOIN v b
          ON a.label = b.label AND a.subcell = b.subcell AND a.vec_id <> b.vec_id
    )
    SELECT vec_id, nn_id, cos_sim FROM (
        SELECT vec_id, nn_id, cos_sim,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, nn_id) AS rn
        FROM scored
    ) WHERE rn = 1
"""

ORACLES["x3_neardup_survivors"] = f"""
    WITH RECURSIVE
    doc_sh AS ({_DOC_SH}),
    sig AS (SELECT doc_id, {_MINHASH_SIG_COLS} FROM doc_sh GROUP BY doc_id),
    bands AS ({_MINHASH_BAND_SELECTS}),
    bands_capped AS ({_BANDS_CAPPED}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands_capped a JOIN bands_capped b
          ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(1) AS n_sh FROM doc_sh GROUP BY doc_id),
    inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(1) AS n_inter
        FROM cand c
        JOIN doc_sh sa ON sa.doc_id = c.doc_a
        JOIN doc_sh sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
        GROUP BY c.doc_a, c.doc_b
    ),
    edges AS (
        SELECT doc_a, doc_b
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= {JACCARD_MIN}
    ),
    sym AS (
        SELECT doc_a AS src, doc_b AS dst FROM edges
        UNION
        SELECT doc_b, doc_a FROM edges
    ),
    reach(src, dst) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
    )
    SELECT src AS doc_id, MIN(dst) AS cluster_id
    FROM reach GROUP BY src
"""

# identical output contract to the in-memory signature pipeline — only
# the physical access path (persisted band-partitioned index) differs
ORACLES["x3_minhash_indexed"] = ORACLES["x3_minhash_lsh"]

# candidate pairs restricted to those whose larger side is in the new
# batch (the top doc_id decile), then exact-Jaccard verified — the SQL
# restatement of the probe-the-index shape
ORACLES["x3_incremental_neardup"] = f"""
    WITH doc_sh AS ({_DOC_SH}),
    sig AS (SELECT doc_id, {_MINHASH_SIG_COLS} FROM doc_sh GROUP BY doc_id),
    bands AS ({_MINHASH_BAND_SELECTS}),
    bands_capped AS ({_BANDS_CAPPED}),
    t AS (SELECT CAST(floor(9 * MAX(doc_id) / 10.0) AS BIGINT) AS t FROM documents),
    cand AS (
        -- only the standing-index (doc_a) side is capped, mirroring the
        -- engine's bucket_n filter on the write-time index; the batch's
        -- own keys are not bucket-counted (probe_standing_index) — a
        -- dropped bucket has no index rows, so no pair forms either way
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands_capped a
        JOIN bands b
          ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
        JOIN t ON b.doc_id > t.t
    ),
    sizes AS (SELECT doc_id, COUNT(1) AS n_sh FROM doc_sh GROUP BY doc_id),
    inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(1) AS n_inter
        FROM cand c
        JOIN doc_sh sa ON sa.doc_id = c.doc_a
        JOIN doc_sh sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
        GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b,
           CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= {JACCARD_MIN}
"""


# ---------------------------------------------------------------------------
# Asymmetric containment: quote / subset detection
# ---------------------------------------------------------------------------

#: minimum directed containment |A∩B| / min(|A|,|B|) to report a pair
CONTAINMENT_MIN = 0.8


def ngram_containment_pairs(
    doc_sh: DataFrame, threshold: float = CONTAINMENT_MIN, cap: int = HOT_BUCKET_CAP
) -> DataFrame:
    """Directed containment C(A→B) = |A∩B| / |A| — the asymmetric
    near-dup measure Jaccard misses: a short document quoted verbatim
    inside a much longer one has tiny Jaccard (union is dominated by
    the long doc) but containment ≈ 1 in the short→long direction.
    Quote/boilerplate-inclusion detection in a curation pass is
    containment's job, not Jaccard's.

    Same inverted-index shape (and the same hot-bucket cap, with sizes
    computed pre-cap so scores only shrink) as
    :func:`ngram_jaccard_pairs`; one extra double division per pair.
    Emits one row per unordered pair with BOTH directions
    (``c_a_in_b``, ``c_b_in_a``) and keeps pairs where either
    direction clears the threshold."""
    sizes = doc_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    capped = cap_hot_buckets(doc_sh, ["sh"], cap)
    a = capped.select(F.col("doc_id").alias("doc_a"), "sh")
    b = capped.select(F.col("doc_id").alias("doc_b"), "sh")
    inter = (
        a.join(b, ["sh"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "c_a_in_b", F.col("n_inter").cast("double") / F.col("n_a")
        )
        .withColumn(
            "c_b_in_a", F.col("n_inter").cast("double") / F.col("n_b")
        )
        .filter(
            (F.col("c_a_in_b") >= threshold) | (F.col("c_b_in_a") >= threshold)
        )
        .select("doc_a", "doc_b", "c_a_in_b", "c_b_in_a")
    )


def _q_x3_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_containment_pairs(_doc_shingles(spark, sf_dir))


QUERIES["x3_containment"] = _q_x3_containment
ORACLES["x3_containment"] = f"""
    WITH doc_sh AS ({_DOC_SH}),
    sh_capped AS ({_SH_CAPPED}),
    sizes AS (SELECT doc_id, COUNT(1) AS n_sh FROM doc_sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(1) AS n_inter
        FROM sh_capped a JOIN sh_capped b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(n_inter AS DOUBLE) / sa.n_sh AS c_a_in_b,
           CAST(n_inter AS DOUBLE) / sb.n_sh AS c_b_in_a
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_inter AS DOUBLE) / sa.n_sh >= {CONTAINMENT_MIN}
       OR CAST(n_inter AS DOUBLE) / sb.n_sh >= {CONTAINMENT_MIN}
"""
