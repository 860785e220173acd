"""Text-analysis operators (X5 + the training-data-pipeline surface).

The reference's only string functions are trim/split/toLowerCase/concat
(Odoo-Batch-Processing.user.js:128, 273-274, 297-298, 587); this module
is the driver-mandated extension (BASELINE.json north star): language
identification, quality scoring, token counting, and document
fingerprinting over the ``documents`` fixture — the per-document text
featurization pass of an LLM data pipeline.

All operators are pure built-in column expressions (JVM-side,
whole-stage codegen; zero Python UDFs), so at 100 TB the pass is a
single scan with no shuffle: every feature is computed per-row and the
only shuffles below are the explicit groupBy queries (term frequency).
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from odoo_batch_processing_spark.functions.exprs import bind
from odoo_batch_processing_spark.sources.loader import fan_out, load_table

# Stopword lists for the n-gram/stopword language heuristic. Tiny by
# design: at 100 TB the lists live in a broadcast variable; here they
# fold into the plan as literals.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "es": ["el", "la", "de", "que", "y", "los"],
    "fr": ["le", "la", "de", "et", "les", "des"],
    "de": ["der", "die", "und", "das", "ist", "von"],
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization, blanks dropped (the reference's own
    split-and-filter idiom, user.js:297-298, applied to words)."""
    return F.filter(F.split(text, " "), lambda x: F.trim(x) != "")


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("bigint")


def bpe_ish_token_count(text: Column) -> Column:
    """A BPE-like proxy count: word pieces of ≤4 chars — ceil(len/4)
    summed over words. Counts sub-word units the way byte-pair
    tokenizers roughly do, with zero dictionary state."""
    return F.aggregate(
        tokens(text),
        F.lit(0).cast("bigint"),
        lambda acc, w: acc + F.ceil(F.length(w) / 4.0).cast("bigint"),
    )


def stopword_hits(text: Column, lang: str) -> Column:
    """Distinct stopwords of ``lang`` present in the text."""
    stoplist = STOPWORDS[lang]
    return F.size(
        F.array_intersect(
            F.array_distinct(tokens(text)),
            F.array(*[F.lit(w) for w in stoplist]),
        )
    )


def lang_id(text: Column) -> Column:
    """Language-ID heuristic: CJK character ratio → 'zh'; otherwise the
    language whose stopword list scores the most distinct hits, ties
    broken in fixed order en > es > fr > de; no hits → 'und'."""
    cjk = F.length(F.regexp_replace(text, r"[^一-鿿]", ""))
    s = {lang: stopword_hits(text, lang) for lang in STOPWORDS}
    return (
        F.when(cjk > 0, F.lit("zh"))
        .when((s["en"] >= s["es"]) & (s["en"] >= s["fr"]) & (s["en"] >= s["de"]) & (s["en"] > 0), F.lit("en"))
        .when((s["es"] >= s["fr"]) & (s["es"] >= s["de"]) & (s["es"] > 0), F.lit("es"))
        .when((s["fr"] >= s["de"]) & (s["fr"] > 0), F.lit("fr"))
        .when(s["de"] > 0, F.lit("de"))
        .otherwise(F.lit("und"))
    )


def quality_features(text: Column) -> dict[str, Column]:
    """Length / punctuation / stopword-ratio features; each a single
    deterministic double (one division — bit-identical across engines)."""
    n_tok = token_count(text)
    n_char = F.length(text).cast("bigint")
    n_punct = F.length(F.regexp_replace(text, r"[^\.,;:!\?]", "")).cast("bigint")
    n_stop = F.size(
        F.filter(tokens(text), lambda x: x.isin(*STOPWORDS["en"]))
    ).cast("bigint")
    # empty/blank documents: ratios are NULL by definition (guarded —
    # double 0/0 would give NaN in Spark but error paths differ across
    # engines; NULL is the portable, filterable answer)
    safe_tok = F.when(n_tok > 0, n_tok)
    safe_char = F.when(n_char > 0, n_char)
    mean_word_len = (n_char - (n_tok - 1)).cast("double") / safe_tok
    return {
        "n_chars": n_char,
        "n_tokens": n_tok,
        "punct_ratio": n_punct.cast("double") / safe_char,
        "stopword_ratio": n_stop.cast("double") / safe_tok,
        "mean_word_len": mean_word_len,
    }


def quality_score(text: Column) -> Column:
    """Linear quality score over the features — the shape of a
    Gopher/C4-style heuristic filter (public data-quality literature),
    deterministic for oracle comparison."""
    f = quality_features(text)
    return (
        F.lit(0.4) * f["stopword_ratio"]
        + F.lit(0.3) * F.least(f["n_tokens"].cast("double") / 100.0, F.lit(1.0))
        + F.lit(0.3) * F.least(f["mean_word_len"] / 10.0, F.lit(1.0))
    )


def fingerprint(text: Column) -> Column:
    """Normalization fingerprint: md5 of whitespace-collapsed,
    lower-cased, trimmed text — the exact-dedup key (X2)."""
    return F.md5(F.lower(F.trim(F.regexp_replace(text, r"\s+", " "))))


def rolling_hash(text: Column, modulus: int = 2**31 - 1, base: int = 31) -> Column:
    """Polynomial rolling hash over tokens (Karp–Rabin shape) — kept
    modulo a Mersenne prime so ANSI-mode bigint arithmetic can't
    overflow. Spark-only (no SQL oracle; unit-tested)."""
    return F.aggregate(
        tokens(text),
        F.lit(7).cast("bigint"),
        lambda acc, w: F.pmod(acc * base + F.xxhash64(w), F.lit(modulus)),
    )


# ---------------------------------------------------------------------------
# registry queries
# ---------------------------------------------------------------------------
def _q_x5_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    text = F.col("text")
    f = quality_features(text)
    return docs.select(
        "doc_id",
        f["n_tokens"].alias("n_tokens"),
        bpe_ish_token_count(text).alias("n_pieces"),
        f["stopword_ratio"].alias("stopword_ratio"),
        f["mean_word_len"].alias("mean_word_len"),
    )


def _q_x5_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    return docs.select("doc_id", "lang", lang_id(F.col("text")).alias("lang_pred"))


def _q_x5_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    return docs.select("doc_id", quality_score(F.col("text")).alias("quality"))


def _q_x5_term_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term frequency + document frequency, top-20 terms.
    The groupBy(token) shuffle is the classic wordcount — partial
    aggregation makes the map-side combine, so shuffle volume is
    O(vocabulary), not O(tokens)."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    return (
        docs.select("doc_id", _token_explode_col().alias("token"))
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.countDistinct("doc_id").alias("df"),
        )
        .orderBy(F.col("tf").desc(), F.col("token"))
        .limit(20)
    )


def _q_x5_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    return docs.select("doc_id", fingerprint(F.col("text")).alias("fp"))


def _q_x5_text_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole per-document featurization pass in ONE projection:
    token stats, BPE-ish piece count, quality ratios + score, language
    prediction, and the dedup fingerprint. All codegen'd column
    expressions over one scan — at 100 TB this is the single-pass
    feature stage of the pipeline (merges the former x5_token_stats /
    x5_quality_score / x5_lang_id / x5_fingerprint entries)."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    text = F.col("text")
    f = quality_features(text)
    return docs.select(
        "doc_id",
        "lang",
        f["n_tokens"].alias("n_tokens"),
        bpe_ish_token_count(text).alias("n_pieces"),
        f["stopword_ratio"].alias("stopword_ratio"),
        f["mean_word_len"].alias("mean_word_len"),
        quality_score(text).alias("quality"),
        lang_id(text).alias("lang_pred"),
        fingerprint(text).alias("fp"),
    )


def _sql_list(words: list[str]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


def _stop_hits_sql(lang: str) -> str:
    return (
        "len(list_intersect(list_distinct(list_filter(string_split(text, ' '), "
        f"x -> trim(x) <> '')), {_sql_list(STOPWORDS[lang])}))"
    )


def _q_x5_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by a tf·idf-style score.

    Uses the RATIONAL idf (N/df) instead of log(N/df): the score is
    then (int·int)/int in doubles — bit-identical across engines,
    whereas libm log() may differ in the last ulp between the JVM and
    DuckDB. Ranking (and therefore the result set) is identical either
    way since log is monotone.

    Plan: doc-term counts (one shuffle) ⋈ df counts (one shuffle over
    the vocabulary) → per-doc top-K window. The vocabulary side is
    hint-free: it is usually threshold-broadcast, but vocabulary grows
    (sub-linearly) with the corpus, so the decision is left to the size
    estimate + AQE rather than pinned with a hint.
    """
    from pyspark.sql import Window

    from odoo_batch_processing_spark.sources.loader import table_row_count

    docs = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    doc_terms = (
        docs.select("doc_id", _token_explode_col().alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # exact footer count, no scan job (loader.table_row_count, r18)
    n_docs = table_row_count(sf_dir, "documents")
    df_counts = doc_terms.groupBy("token").agg(
        F.countDistinct("doc_id").alias("df")
    )
    scored = doc_terms.join(df_counts, "token").withColumn(
        "tfidf",
        F.col("tf").cast("double") * (F.lit(float(n_docs)) / F.col("df")),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("token")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "rnk", "token", "tfidf")
    )


# The merged single-pass featurization and the tf-idf shuffle query
# (which computes term/document frequency on the way), then the
# standalone per-feature micro-queries.
QUERIES = {
    "x5_text_features": _q_x5_text_features,
    "x5_tfidf_top_terms": _q_x5_tfidf_top_terms,
    "x5_token_stats": _q_x5_token_stats,
    "x5_lang_id": _q_x5_lang_id,
    "x5_quality_score": _q_x5_quality_score,
    "x5_term_frequency": _q_x5_term_frequency,
    "x5_fingerprint": _q_x5_fingerprint,
}

_TOKS = "list_filter(string_split(text, ' '), x -> trim(x) <> '')"
_NTOK = f"CAST(len({_TOKS}) AS BIGINT)"
_NCHAR = "CAST(length(text) AS BIGINT)"
_NSTOP = (
    f"CAST(len(list_filter({_TOKS}, x -> list_contains({_sql_list(STOPWORDS['en'])}, x))) AS BIGINT)"
)
# nullif guards mirror the Spark-side empty-document NULL semantics
_MEANWL = f"CAST({_NCHAR} - ({_NTOK} - 1) AS DOUBLE) / nullif({_NTOK}, 0)"
_STOPRATIO = f"CAST({_NSTOP} AS DOUBLE) / nullif({_NTOK}, 0)"

ORACLES = {
    "x5_token_stats": f"""
        SELECT doc_id,
               {_NTOK} AS n_tokens,
               CAST(list_sum(list_transform({_TOKS}, w -> CAST(ceil(length(w) / 4.0) AS BIGINT))) AS BIGINT) AS n_pieces,
               {_STOPRATIO} AS stopword_ratio,
               {_MEANWL} AS mean_word_len
        FROM documents
    """,
    "x5_lang_id": f"""
        SELECT doc_id, lang,
               CASE WHEN length(regexp_replace(text, '[^一-鿿]', '', 'g')) > 0 THEN 'zh'
                    WHEN {_stop_hits_sql('en')} >= {_stop_hits_sql('es')}
                     AND {_stop_hits_sql('en')} >= {_stop_hits_sql('fr')}
                     AND {_stop_hits_sql('en')} >= {_stop_hits_sql('de')}
                     AND {_stop_hits_sql('en')} > 0 THEN 'en'
                    WHEN {_stop_hits_sql('es')} >= {_stop_hits_sql('fr')}
                     AND {_stop_hits_sql('es')} >= {_stop_hits_sql('de')}
                     AND {_stop_hits_sql('es')} > 0 THEN 'es'
                    WHEN {_stop_hits_sql('fr')} >= {_stop_hits_sql('de')}
                     AND {_stop_hits_sql('fr')} > 0 THEN 'fr'
                    WHEN {_stop_hits_sql('de')} > 0 THEN 'de'
                    ELSE 'und' END AS lang_pred
        FROM documents
    """,
    "x5_quality_score": f"""
        SELECT doc_id,
               0.4 * ({_STOPRATIO})
             + 0.3 * least(CAST({_NTOK} AS DOUBLE) / 100.0, 1.0)
             + 0.3 * least(({_MEANWL}) / 10.0, 1.0) AS quality
        FROM documents
    """,
    "x5_fingerprint": """
        SELECT doc_id,
               md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
        FROM documents
    """,
}

ORACLES["x5_tfidf_top_terms"] = f"""
    WITH doc_terms AS (
        SELECT doc_id, token, COUNT(1) AS tf
        FROM (SELECT doc_id, unnest({_TOKS}) AS token FROM documents) t
        GROUP BY doc_id, token
    ),
    dfc AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM doc_terms GROUP BY token),
    n AS (SELECT CAST(COUNT(1) AS DOUBLE) AS n_docs FROM documents),
    scored AS (
        SELECT doc_id, token,
               CAST(tf AS DOUBLE) * (n.n_docs / df) AS tfidf
        FROM doc_terms JOIN dfc USING (token) CROSS JOIN n
    )
    SELECT doc_id, rnk, token, tfidf FROM (
        SELECT doc_id, token, tfidf,
               CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS BIGINT) AS rnk
        FROM scored
    ) WHERE rnk <= 3
"""

ORACLES["x5_term_frequency"] = f"""
    SELECT token,
           COUNT(1) AS tf,
           COUNT(DISTINCT doc_id) AS df
    FROM (SELECT doc_id, unnest({_TOKS}) AS token FROM documents) t
    GROUP BY token
    ORDER BY tf DESC, token
    LIMIT 20
"""

ORACLES["x5_text_features"] = f"""
    SELECT doc_id, lang,
           {_NTOK} AS n_tokens,
           CAST(list_sum(list_transform({_TOKS}, w -> CAST(ceil(length(w) / 4.0) AS BIGINT))) AS BIGINT) AS n_pieces,
           {_STOPRATIO} AS stopword_ratio,
           {_MEANWL} AS mean_word_len,
           0.4 * ({_STOPRATIO})
         + 0.3 * least(CAST({_NTOK} AS DOUBLE) / 100.0, 1.0)
         + 0.3 * least(({_MEANWL}) / 10.0, 1.0) AS quality,
           CASE WHEN length(regexp_replace(text, '[^一-鿿]', '', 'g')) > 0 THEN 'zh'
                WHEN {_stop_hits_sql('en')} >= {_stop_hits_sql('es')}
                 AND {_stop_hits_sql('en')} >= {_stop_hits_sql('fr')}
                 AND {_stop_hits_sql('en')} >= {_stop_hits_sql('de')}
                 AND {_stop_hits_sql('en')} > 0 THEN 'en'
                WHEN {_stop_hits_sql('es')} >= {_stop_hits_sql('fr')}
                 AND {_stop_hits_sql('es')} >= {_stop_hits_sql('de')}
                 AND {_stop_hits_sql('es')} > 0 THEN 'es'
                WHEN {_stop_hits_sql('fr')} >= {_stop_hits_sql('de')}
                 AND {_stop_hits_sql('fr')} > 0 THEN 'fr'
                WHEN {_stop_hits_sql('de')} > 0 THEN 'de'
                ELSE 'und' END AS lang_pred,
           md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
    FROM documents
"""


def _q_x5_udtf_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 table function) — the third user-extension
    shape next to the pandas scalar/grouped-agg UDFs: one input row in,
    MANY rows out, composed via LATERAL join in SQL. The function packs
    a document's tokens into fixed 10-token chunks (the sequence-window
    shape of a tokenizer-side pipeline).

    Python UDTFs are row-at-a-time — the deliberate slow path, bounded
    here to 50 docs; the SET-BASED equivalent for corpus scale is the
    pure-expression chunking in operators/curation.pack_shards /
    the posexplode-over-slice idiom (same semantics, codegen'd). The
    oracle restates the chunking in DuckDB, so the UDTF demo still
    sits under the hash gate.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx int, n_tokens int, chunk_text string")
    class TokenChunks:
        def eval(self, text: str):
            if text is None:
                return
            toks = [t for t in text.split(" ") if t.strip()]
            for i in range(0, (len(toks) + 9) // 10):
                chunk = toks[i * 10 : i * 10 + 10]
                yield i, len(chunk), " ".join(chunk)

    from odoo_batch_processing_spark.sources.loader import load_table

    load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50).createOrReplaceTempView(
        "__udtf_docs"
    )
    spark.udtf.register("token_chunks", TokenChunks)
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_idx, c.n_tokens, c.chunk_text
        FROM __udtf_docs d, LATERAL token_chunks(d.text) c
        """
    )


def _bigrams(toks: Column) -> Column:
    """Adjacent token bigrams as space-joined strings; empty array for
    docs with <2 tokens (guarded — Spark's sequence(1, 0) would count
    DOWN, not produce an empty array).

    ``toks`` is BOUND once per row (exprs.bind): callers pass the
    computed ``tokens(text)`` expression, and referencing it inside the
    position lambda re-tokenizes per element — Θ(T²) per doc (SCALE.md
    round 8)."""
    return bind(
        toks,
        lambda tk: F.when(
            F.size(tk) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(tk) - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at(tk, i), F.element_at(tk, i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )


def _trigrams(toks: Column) -> Column:
    """Adjacent token trigrams (the shingle unit for boilerplate
    detection and sparse doc similarity below — 3 chosen from the
    fixture's measured df curve: 2-grams are near-universal, 5-grams
    near-unique). ``toks`` bound once per row — see ``_bigrams``."""
    return bind(
        toks,
        lambda tk: F.when(
            F.size(tk) >= 3,
            F.transform(
                F.sequence(F.lit(1), F.size(tk) - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(tk, i),
                    F.element_at(tk, i + 1),
                    F.element_at(tk, i + 2),
                ),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )


@lru_cache(maxsize=None)
def _gopher_base_cols() -> tuple[Column, ...]:
    """The three per-row Gopher feature trees over the canonical
    ``text`` column, built once per process (OPTIMIZATION r18 — the
    curation._gate_columns pattern: _bigrams is a bind()+transform HOF
    tree, ~100 py4j round-trips per construction, rebuilt per bench
    rep / per catalog invocation). Same single-JVM-gateway assumption
    as every cached Column factory (curation._gate_columns_cached)."""
    toks = tokens(F.col("text"))
    return (
        F.size(toks).cast("bigint").alias("n_tok"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_tok_distinct"),
        _bigrams(toks).alias("bigrams"),
    )


def _q_x5_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filters (public Rae et al. 2021
    heuristics): per-document duplicate-token fraction, duplicate-bigram
    fraction, and top-bigram fraction, plus the composed repetitive
    flag. The reference has no text-quality surface (its only string
    ops are trim/split/lower, user.js:297-298); this is part of the
    driver-mandated LLM-pipeline extension.

    Scale shape: token-level stats are pure per-row expressions (one
    scan); bigram stats need the MOST-FREQUENT bigram per doc, which a
    per-row expression can only do in O(len²) — so instead it is one
    explode + two-level aggregation keyed by doc_id (shuffle volume
    O(distinct bigrams), map-side partial aggs), then a doc_id
    equi-join back. All fractions are a single IEEE division over
    exact bigint counts — bit-identical across engines.
    """
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    n_tok_col, n_tok_distinct_col, bigrams_col = _gopher_base_cols()
    base = docs.select("doc_id", n_tok_col, n_tok_distinct_col, bigrams_col)
    bg = (
        base.select("doc_id", F.explode("bigrams").alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("bg_total"),
            F.count(F.lit(1)).alias("bg_distinct"),
            F.max("c").alias("bg_top"),
        )
    )
    dup_token_frac = F.lit(1.0) - F.col("n_tok_distinct").cast("double") / F.when(
        F.col("n_tok") > 0, F.col("n_tok")
    )
    dup_bigram_frac = F.lit(1.0) - F.col("bg_distinct").cast("double") / F.col("bg_total")
    top_bigram_frac = F.col("bg_top").cast("double") / F.col("bg_total")
    return (
        base.drop("bigrams")
        .join(bg, "doc_id", "left")
        .select(
            "doc_id",
            dup_token_frac.alias("dup_token_frac"),
            dup_bigram_frac.alias("dup_bigram_frac"),
            top_bigram_frac.alias("top_bigram_frac"),
            ((top_bigram_frac > 0.18) | (dup_token_frac > 0.6)).alias("repetitive"),
        )
    )


def _q_x5_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate shingle detection (the C4/RefinedWeb
    'remove lines seen across many pages' pass, restated over token
    trigrams because the fixture has no newlines): trigrams present in
    ≥ max(2, ceil(1% of docs)) DISTINCT documents, top-100 by document
    frequency.

    Scale shape: shingles are deduped PER DOC before the explode
    (array_distinct), so groupBy(shingle).count() IS the document
    frequency with no countDistinct — one shuffle of O(doc × distinct
    shingles) keys with map-side partials. The df threshold is
    relative (1% of corpus), so the query is sf-invariant; the corpus
    size folds in as a driver-side scalar (column-pruned count scan,
    same idiom as x5_tfidf_top_terms)."""
    import math

    from odoo_batch_processing_spark.sources.loader import table_row_count

    docs = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    # exact footer count, no scan job (loader.table_row_count, r18)
    n_docs = table_row_count(sf_dir, "documents")
    min_df = max(2, int(math.ceil(0.01 * n_docs)))
    return (
        docs.select(_shingle_explode_col(True).alias("shingle"))
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_df)
        .orderBy(F.col("df").desc(), "shingle")
        .limit(100)
    )


@lru_cache(maxsize=None)
def _shingle_explode_col(distinct: bool) -> Column:
    """``explode(trigrams(tokens(text)))`` — optionally deduped per
    row — built once per process (r18, the _gopher_base_cols
    rationale: the trigram tree is two nested HOF lambdas and is the
    single most-reconstructed expression in the catalog — postings,
    boilerplate, and every graph query build it)."""
    tg = _trigrams(tokens(F.col("text")))
    return F.explode(F.array_distinct(tg) if distinct else tg)


@lru_cache(maxsize=None)
def _token_explode_col() -> Column:
    """``explode(tokens(text))`` — the unigram stream projection shared
    by surprisal/tf-idf/heavy-hitter queries (cached, r18)."""
    return F.explode(tokens(F.col("text")))


#: absolute posting-list ceiling for the shared trigram index (same
#: role as dedup.HOT_BUCKET_CAP): bounds any shingle's pair fan-out by
#: a constant independent of corpus size
POSTING_ABS_CAP = 1000

#: tighter absolute cap for the GRAPH consumers (triangle counts,
#: PageRank — graph.py): a df-k shingle materializes a k-CLIQUE in the
#: co-occurrence graph, so pair work grows with df² but TRIANGLE work
#: with df³ — at the cosine cap (1000) one saturated shingle alone is
#: ~1.7·10⁸ triangles, unbounded at any corpus that keeps saturating
#: it (the honest-drain smoke ladder measured 236 s at the 8× rung).
#: 64 bounds a shingle's clique at ≤2016 edges / ≤41664 triangles —
#: constant at any scale — and is the semantic line the graph queries
#: already document: a shingle shared by >64 docs is boilerplate (a
#: hub), noise for cliquishness analysis.
GRAPH_DF_CAP = 64

#: the df-caps restated for DuckDB — every oracle over the pruned
#: postings MUST use these fragments, not re-inline the arithmetic,
#: so the caps change in lockstep with pruned_shingle_postings
#: (DF_CAP_SQL: doc-cosine here; GRAPH_DF_CAP_SQL: graph.py)
def _df_cap_sql(abs_cap: int) -> str:
    return (
        "least(greatest(2, CAST(ceil(0.05 * (SELECT COUNT(1) FROM documents))"
        f" AS BIGINT)), {abs_cap})"
    )


DF_CAP_SQL = _df_cap_sql(POSTING_ABS_CAP)
GRAPH_DF_CAP_SQL = _df_cap_sql(GRAPH_DF_CAP)


def pruned_shingle_postings(
    spark: SparkSession,
    sf_dir: str,
    abs_cap: int = POSTING_ABS_CAP,
    with_tf: bool = True,
):
    """The shared trigram inverted index: (doc_id, shingle, tf)
    postings with the standard bilateral df pruning — shingles in one
    doc can't pair (df ≥ 2), shingles in >5% of docs are
    stop-shingles (df ≤ cap, the dedup.cap_hot_buckets discipline).
    Feeds BOTH the sparse doc-cosine and the PageRank similarity
    graph, so threshold/tokenization changes happen in exactly one
    place. Returns ``(pruned_postings, n_docs)``.

    The df cap is min(5%·n_docs, POSTING_ABS_CAP): a PROPORTIONAL cap
    alone lets a hot shingle's posting list grow with the corpus, and
    its pair fan-out in the downstream self-join grows with the
    SQUARE — the mild superlinearity the 8× corpus ladder flagged
    (3.0→27.2 s, VERDICT r04 #8; SCALE.md). The absolute ceiling bounds
    every posting list — hence every shingle's pair count — by a
    constant at any corpus size, exactly like dedup.HOT_BUCKET_CAP.
    At fixture scales the 5% term is smaller, so results are
    unchanged (sf0.1: 250 ≪ 1000).

    ``abs_cap`` lets consumers with steeper fan-out pick a tighter
    ceiling: the graph queries pass GRAPH_DF_CAP because their
    triangle work grows with df³ through co-occurrence cliques, not
    df² (see the constant's doc block).

    ``with_tf=False`` (OPTIMIZATION r18, guide §2.3 "shuffle fewer
    bytes" / §1.2 "don't compute things you throw away") is for
    consumers that only need the distinct (doc_id, shingle) SET — the
    graph queries, whose co-occurrence join ignores multiplicity. The
    per-(doc, shingle) tf aggregate is replaced by a per-row
    ``array_distinct`` BEFORE the explode: the (doc_id, shingle)
    output relation is row-identical (a doc's shingle list dedups to
    exactly the aggregate's key set, so the df counts below are
    unchanged), but the hash-aggregate over the full posting stream —
    and its map-side hash tables — disappear from the plan, and the
    cached relation is one bigint+string narrower. The unpruned
    distinct (doc_id, shingle) postings, not the pruned relation this
    returns, are additionally materialized once here: their build is
    the expensive tokenize+explode pass, and every graph run reads them
    several times (the df count, the prune join, and through it both
    sides of the pair self-join), which otherwise re-tokenized the
    corpus 2-3× per run."""
    import math

    from odoo_batch_processing_spark.session import materialize_once
    from odoo_batch_processing_spark.sources.loader import table_row_count

    docs = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    # exact footer count — the unfiltered corpus cardinality needs no
    # scan job (loader.table_row_count; OPTIMIZATION r18, guide §1.2)
    n_docs = table_row_count(sf_dir, "documents")
    max_df = min(max(2, int(math.ceil(0.05 * n_docs))), abs_cap)
    if with_tf:
        doc_terms = (
            docs.select("doc_id", _shingle_explode_col(False).alias("shingle"))
            .groupBy("doc_id", "shingle")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
    else:
        doc_terms = docs.select(
            "doc_id", _shingle_explode_col(True).alias("shingle")
        ).transform(materialize_once)
    keep = (
        doc_terms.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= max_df))
        .select("shingle")
    )
    return doc_terms.join(keep, "shingle"), n_docs


def _q_x5_doc_sim_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse text similarity WITHOUT embeddings: top-100 document
    pairs by cosine over trigram-shingle count vectors, computed
    through an inverted index — the classic sparse complement to the
    x4 dense-vector path.

    Scale shape: an all-pairs cosine is O(docs²); the inverted index
    generates candidates only for pairs that SHARE a shingle —
    postings self-join on the shingle key (equi-join, hash-partitioned
    by shingle), then one groupBy(pair) to sum dot products. Two
    standard prunings bound the postings: shingles in ONE doc cannot
    produce a pair (df ≥ 2), and shingles in more than 5% of docs are
    stop-shingles (df ≤ cap) — the same hot-key cap the LSH dedup path
    uses (dedup.cap_hot_buckets). Norms are over the pruned vector
    space so cosine stays a true cosine there.

    Oracle determinism: dot and squared norms are EXACT bigint sums;
    the only floating ops are two correctly-rounded sqrts, one
    multiply, one divide — bit-identical across engines (same design
    as x4_int8_topk's exact-arithmetic contract)."""
    pruned, _n_docs = pruned_shingle_postings(spark, sf_dir)
    norms = pruned.groupBy("doc_id").agg(
        F.sum(F.col("tf") * F.col("tf")).alias("sq")
    )
    a = pruned.select(
        "shingle", F.col("doc_id").alias("doc_a"), F.col("tf").alias("tf_a")
    )
    b = pruned.select(
        "shingle", F.col("doc_id").alias("doc_b"), F.col("tf").alias("tf_b")
    )
    dots = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("tf_a") * F.col("tf_b")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("sq").alias("sq_a"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("sq").alias("sq_b"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "dot",
            (
                F.col("dot").cast("double")
                / (F.sqrt(F.col("sq_a").cast("double")) * F.sqrt(F.col("sq_b").cast("double")))
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "doc_a", "doc_b")
        .limit(100)
    )


_BIGRAMS_SQL = (
    "CASE WHEN len(tk) >= 2 THEN list_transform(range(1, len(tk)), "
    "i -> tk[i] || ' ' || tk[i+1]) ELSE CAST([] AS VARCHAR[]) END"
)
_TRIGRAMS_SQL = (
    "CASE WHEN len(tk) >= 3 THEN list_transform(range(1, len(tk) - 1), "
    "i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) ELSE CAST([] AS VARCHAR[]) END"
)

QUERIES["x5_gopher_repetition"] = _q_x5_gopher_repetition
ORACLES["x5_gopher_repetition"] = f"""
    WITH base AS (
        SELECT doc_id,
               CAST(len(tk) AS BIGINT) AS n_tok,
               CAST(len(list_distinct(tk)) AS BIGINT) AS n_tok_distinct,
               {_BIGRAMS_SQL} AS bigrams
        FROM (SELECT doc_id, {_TOKS} AS tk FROM documents)
    ), bg AS (
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS bg_total,
               COUNT(1) AS bg_distinct,
               CAST(MAX(c) AS BIGINT) AS bg_top
        FROM (
            SELECT doc_id, b, COUNT(1) AS c
            FROM (SELECT doc_id, unnest(bigrams) AS b FROM base)
            GROUP BY doc_id, b
        )
        GROUP BY doc_id
    )
    SELECT base.doc_id,
           1.0 - CAST(n_tok_distinct AS DOUBLE) / nullif(n_tok, 0) AS dup_token_frac,
           1.0 - CAST(bg_distinct AS DOUBLE) / bg_total AS dup_bigram_frac,
           CAST(bg_top AS DOUBLE) / bg_total AS top_bigram_frac,
           (CAST(bg_top AS DOUBLE) / bg_total > 0.18)
            OR (1.0 - CAST(n_tok_distinct AS DOUBLE) / nullif(n_tok, 0) > 0.6) AS repetitive
    FROM base LEFT JOIN bg USING (doc_id)
"""

QUERIES["x5_boilerplate_ngrams"] = _q_x5_boilerplate_ngrams
ORACLES["x5_boilerplate_ngrams"] = f"""
    WITH sh AS (
        SELECT doc_id, unnest(list_distinct({_TRIGRAMS_SQL})) AS shingle
        FROM (SELECT doc_id, {_TOKS} AS tk FROM documents)
    )
    SELECT shingle, COUNT(1) AS df
    FROM sh
    GROUP BY shingle
    HAVING COUNT(1) >= greatest(2, CAST(ceil(0.01 * (SELECT COUNT(1) FROM documents)) AS BIGINT))
    ORDER BY df DESC, shingle
    LIMIT 100
"""

QUERIES["x5_doc_sim_cosine"] = _q_x5_doc_sim_cosine
ORACLES["x5_doc_sim_cosine"] = f"""
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
           AND COUNT(1) <= {DF_CAP_SQL}
    ), pruned AS (
        SELECT doc_terms.* FROM doc_terms JOIN keep USING (shingle)
    ), norms AS (
        SELECT doc_id, CAST(SUM(tf * tf) AS BIGINT) AS sq FROM pruned GROUP BY doc_id
    ), dots AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
        FROM pruned a JOIN pruned b USING (shingle)
        WHERE a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b, dot,
           CAST(dot AS DOUBLE) / (sqrt(CAST(na.sq AS DOUBLE)) * sqrt(CAST(nb.sq AS DOUBLE))) AS cosine
    FROM dots
    JOIN norms na ON na.doc_id = doc_a
    JOIN norms nb ON nb.doc_id = doc_b
    ORDER BY cosine DESC, doc_a, doc_b
    LIMIT 100
"""

def _q_x5_chunk_dedup_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level dedup signal (the RefinedWeb/C4 'remove repeated
    passages' pass at the measurement stage): split each doc into
    NON-overlapping 10-token chunks — the same chunk unit the UDTF
    demo and pack_shards use — and report, per doc, how many of its
    distinct chunks also occur in at least one OTHER document.

    Scale shape: distinct (doc, chunk) pairs explode once; the chunk
    document-frequency is a plain count over that deduped relation
    (no countDistinct), and the per-doc fraction is a doc_id re-agg —
    the identical two-level shape as the boilerplate query, one
    chunk-keyed shuffle and one doc-keyed shuffle."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    # token array bound once per row (exprs.bind) — slicing the computed
    # tokens(text) inside the chunk lambda re-tokenizes per chunk
    chunks = bind(
        tokens(F.col("text")),
        lambda tk: F.transform(
            F.sequence(F.lit(0), F.ceil(F.size(tk) / 10.0).cast("int") - 1),
            lambda i: F.concat_ws(" ", F.slice(tk, i * 10 + 1, 10)),
        ),
    )
    doc_chunks = docs.select(
        "doc_id", F.explode(F.array_distinct(chunks)).alias("chunk")
    )
    dfreq = doc_chunks.groupBy("chunk").agg(F.count(F.lit(1)).alias("df"))
    return (
        doc_chunks.join(dfreq, "chunk")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum((F.col("df") >= 2).cast("bigint")).alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_shared",
            (F.col("n_shared").cast("double") / F.col("n_chunks")).alias("shared_frac"),
        )
    )


QUERIES["x5_chunk_dedup_frac"] = _q_x5_chunk_dedup_frac
ORACLES["x5_chunk_dedup_frac"] = f"""
    WITH doc_chunks AS (
        SELECT DISTINCT doc_id,
               array_to_string(tk[i*10+1 : i*10+10], ' ') AS chunk
        FROM (SELECT doc_id, {_TOKS} AS tk FROM documents),
             LATERAL (SELECT unnest(range(0, CAST(ceil(len(tk)/10.0) AS BIGINT))) AS i)
    ), dfreq AS (
        SELECT chunk, COUNT(1) AS df FROM doc_chunks GROUP BY chunk
    )
    SELECT doc_id,
           COUNT(1) AS n_chunks,
           CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
           CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(1) AS shared_frac
    FROM doc_chunks JOIN dfreq USING (chunk)
    GROUP BY doc_id
"""

QUERIES["x5_udtf_chunks"] = _q_x5_udtf_chunks
ORACLES["x5_udtf_chunks"] = """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> trim(x) <> '') AS tk
      FROM documents WHERE doc_id < 50
    )
    SELECT doc_id,
           CAST(i AS INTEGER) AS chunk_idx,
           CAST(len(list_slice(tk, i*10+1, i*10+10)) AS INTEGER) AS n_tokens,
           array_to_string(list_slice(tk, i*10+1, i*10+10), ' ') AS chunk_text
    FROM toks, LATERAL (
      SELECT unnest(range(0, CAST(ceil(len(tk)/10.0) AS BIGINT))) AS i
    ) u
"""


# ---------------------------------------------------------------------------
# Unigram LM surprisal (CCNet-style quality scoring, bit-quantized)
# ---------------------------------------------------------------------------


def floor_log2(n: Column) -> Column:
    """floor(log2(n)) for a positive integer column, computed EXACTLY
    as length(binary representation) − 1 — integer string ops only, so
    Spark and DuckDB agree bit-for-bit where a float log2 could differ
    in the last ulp."""
    return (F.length(F.conv(n.cast("string"), 10, 2)) - F.lit(1)).cast("bigint")


def _q_x5_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model surprisal per document — the CCNet /
    Wikipedia-LM quality-filter shape: train a unigram model ON the
    corpus (token → count, total N), then score each document by its
    average per-token self-information. Low-surprisal docs are bland
    or repetitive; high-surprisal docs are rare-token noise — the
    curation pass keeps the middle band.

    Production uses float log-probs; to sit under a bit-exact oracle
    this computes surprisal in WHOLE BITS via :func:`floor_log2`
    (floor(log2 N) − floor(log2 cnt) per token occurrence) so every
    accumulation is exact bigint addition — the same quantize-then-sum
    contract as the PageRank oracle (operators/graph.py). The ranking
    signal survives: a 1-in-2 token scores 0 extra bits, a 1-in-2^20
    token 20.

    100 TB shape: tf per (doc, token) aggregates FIRST (map-side
    combine collapses repeated tokens), the model join is a shuffle
    hash join on token (vocabulary scales with the corpus — never
    broadcast it), and corpus total N rides along as a 1-row
    auto-broadcast aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", _token_explode_col().alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    model = tf.groupBy("token").agg(F.sum("tf").cast("bigint").alias("cnt"))
    total = model.agg(F.sum("cnt").cast("bigint").alias("n_total"))
    scored = (
        tf.join(model, "token")
        .crossJoin(total)
        .select(
            "doc_id",
            "tf",
            (
                (floor_log2(F.col("n_total")) - floor_log2(F.col("cnt")))
                * F.col("tf")
            ).alias("bits"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum("tf").cast("bigint").alias("n_tokens"),
        F.sum("bits").cast("bigint").alias("total_bits"),
        (
            F.sum("bits").cast("double") / F.sum("tf").cast("double")
        ).alias("avg_bits"),
    )


QUERIES["x5_unigram_surprisal"] = _q_x5_unigram_surprisal

#: Shared oracle fragment: per-doc (doc_id, n_tokens, total_bits)
#: unigram-LM surprisal scores as ONE parenthesized subquery. Composed
#: queries (x9_difficulty_deciles) MUST build their oracles from this
#: constant rather than re-inlining the tokenization/surprisal SQL, so
#: a tokenizer change in _TOKS or a scoring change here cannot desync
#: a downstream oracle (ADVICE r04 — same lockstep convention as
#: graph.py's shared fragments).
SURPRISAL_SCORES_SQL = f"""(
    WITH tf AS (
        SELECT doc_id, token, CAST(COUNT(1) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest({_TOKS}) AS token FROM documents)
        GROUP BY doc_id, token
    ), model AS (
        SELECT token, CAST(SUM(tf) AS BIGINT) AS cnt FROM tf GROUP BY token
    ), total AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM model
    )
    SELECT doc_id,
           CAST(SUM(tf) AS BIGINT) AS n_tokens,
           CAST(SUM((CAST(length(format('{{:b}}', n_total)) - 1 AS BIGINT)
                     - CAST(length(format('{{:b}}', cnt)) - 1 AS BIGINT)) * tf)
                AS BIGINT) AS total_bits
    FROM tf JOIN model USING (token) CROSS JOIN total
    GROUP BY doc_id
)"""

# avg_bits = total_bits/n_tokens in double — identical to the inline
# SUM(...)::DOUBLE / SUM(...)::DOUBLE since total_bits is the exact sum
ORACLES["x5_unigram_surprisal"] = f"""
    SELECT doc_id, n_tokens, total_bits,
           CAST(total_bits AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS avg_bits
    FROM {SURPRISAL_SCORES_SQL} s
"""


def _q_x5_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram (order-1 Markov) LM surprisal per document — one step up
    the CCNet ladder from :func:`_q_x5_unigram_surprisal`: train
    P(token | prev) on the corpus's adjacent-token pairs, score each
    doc by its average conditional self-information. The conditional
    model separates fluent-but-rare docs (low bigram bits despite rare
    unigrams) from shuffled-token noise (every transition surprising)
    — the distinction a perplexity quality filter actually exploits.

    Same bit-exact contract as the unigram form: per-occurrence bits =
    floor(log2 cnt(prev,*)) − floor(log2 cnt(prev,cur)), whole-bit
    bigint sums under the hash oracle. Training on the corpus means
    every scored bigram exists in the model — no backoff/smoothing
    branch to mirror. Docs with fewer than two tokens have no bigrams
    and drop out of the result (both engines, by construction).

    100 TB shape: bigrams are built MAP-SIDE from each doc's token
    array (arrays_zip over two slices — no self-join on position, no
    window), tf per (doc, bigram) aggregates before the model joins,
    the pair and prev-context models are shuffle hash joins on their
    keys (vocabulary² scales with the corpus — never broadcast), and
    both models derive from ONE bigram tf relation."""
    docs = load_table(spark, sf_dir, "documents")
    sep = "chr(31)"  # unit separator: the tokenizer strips no bytes,
    # so join on the composed pair string and re-derive the context
    # key with the SAME prefix rule in both engines
    bg_expr = (
        "transform(arrays_zip(slice(t, 1, size(t)-1), slice(t, 2, size(t)-1)),"
        f" x -> concat(x['0'], {sep}, x['1']))"
    )
    tf = (
        docs.select("doc_id", tokens(F.col("text")).alias("t"))
        .select(
            "doc_id",
            F.explode(
                F.when(F.size("t") >= 2, F.expr(bg_expr)).otherwise(
                    F.array().cast("array<string>")
                )
            ).alias("bigram"),
        )
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    pair = tf.groupBy("bigram").agg(F.sum("tf").cast("bigint").alias("cnt_pair"))
    prev = (
        pair.groupBy(
            F.substring_index("bigram", "\x1f", 1).alias("prev")
        ).agg(F.sum("cnt_pair").cast("bigint").alias("cnt_prev"))
    )
    scored = (
        tf.join(pair, "bigram")
        .withColumn("prev", F.substring_index("bigram", "\x1f", 1))
        .join(prev, "prev")
        .select(
            "doc_id",
            "tf",
            (
                (floor_log2(F.col("cnt_prev")) - floor_log2(F.col("cnt_pair")))
                * F.col("tf")
            ).alias("bits"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum("tf").cast("bigint").alias("n_bigrams"),
        F.sum("bits").cast("bigint").alias("total_bits"),
        (
            F.sum("bits").cast("double") / F.sum("tf").cast("double")
        ).alias("avg_bits"),
    )


QUERIES["x5_bigram_surprisal"] = _q_x5_bigram_surprisal

# DuckDB mirror: bigram list via list_zip of the two token-array
# slices (for len<2 the slices collapse to [] in both engines — Spark
# behind the size>=2 guard, DuckDB by slice semantics), split_part /
# substring_index agree on "text before the first separator".
ORACLES["x5_bigram_surprisal"] = f"""
    WITH tf AS (
        SELECT doc_id, bigram, CAST(COUNT(1) AS BIGINT) AS tf
        FROM (
            SELECT doc_id,
                   unnest(list_transform(
                       list_zip(l[1:len(l)-1], l[2:len(l)]),
                       x -> x[1] || chr(31) || x[2]
                   )) AS bigram
            FROM (SELECT doc_id, {_TOKS} AS l FROM documents)
        )
        GROUP BY doc_id, bigram
    ), pair AS (
        SELECT bigram, CAST(SUM(tf) AS BIGINT) AS cnt_pair
        FROM tf GROUP BY bigram
    ), prev AS (
        SELECT split_part(bigram, chr(31), 1) AS prev,
               CAST(SUM(cnt_pair) AS BIGINT) AS cnt_prev
        FROM pair GROUP BY prev
    )
    SELECT doc_id,
           CAST(SUM(tf) AS BIGINT) AS n_bigrams,
           CAST(SUM((CAST(length(format('{{:b}}', cnt_prev)) - 1 AS BIGINT)
                     - CAST(length(format('{{:b}}', cnt_pair)) - 1 AS BIGINT))
                    * tf) AS BIGINT) AS total_bits,
           CAST(SUM((CAST(length(format('{{:b}}', cnt_prev)) - 1 AS BIGINT)
                     - CAST(length(format('{{:b}}', cnt_pair)) - 1 AS BIGINT))
                    * tf) AS DOUBLE) / CAST(SUM(tf) AS DOUBLE) AS avg_bits
    FROM tf
    JOIN pair USING (bigram)
    JOIN prev ON prev.prev = split_part(bigram, chr(31), 1)
    GROUP BY doc_id
"""


def _q_x5_trigram_backoff_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram (order-2 Markov) LM surprisal with STUPID BACKOFF — the
    top of the CCNet perplexity-filter ladder (unigram → bigram →
    trigram). Unlike the lower rungs, which train and score on the
    same corpus (so every scored n-gram exists in the model), this one
    trains on the even-doc_id half and scores EVERY document — the
    production train/score split — so unseen trigrams genuinely back
    off: trigram → bigram → unigram → OOV floor.

    Backoff is Brants et al.'s stupid backoff with α = 1/2, chosen
    because halving is EXACTLY +1 bit — the whole ladder stays in the
    whole-bit bigint arithmetic of the oracle contract
    (:func:`floor_log2`; same quantize-then-sum discipline as the
    unigram/bigram rungs):

    * trigram hit:  bits = fl2(cnt(w1w2·)) − fl2(cnt(w1w2w3))
    * bigram hop:   bits = 1 + fl2(cnt(w2·)) − fl2(cnt(w2w3))
    * unigram hop:  bits = 2 + fl2(N_train) − fl2(cnt(w3))
    * OOV floor:    bits = 3 + fl2(N_train)   (count-1 token, +1 more)

    Docs with fewer than three tokens have no trigrams and drop out
    (both engines, by slice construction).

    100 TB shape: all n-grams are built MAP-SIDE from each doc's token
    array (arrays_zip over shifted slices — no positional self-join);
    per-(doc, trigram) tf aggregates before any model join; the three
    model joins are LEFT shuffle hash joins on their n-gram keys
    (model sizes scale with the corpus — never broadcast); N_train
    rides along as a 1-row auto-broadcast aggregate. The training
    filter (doc_id % 2 = 0) prunes at the scan."""
    docs = load_table(spark, sf_dir, "documents")
    sep = "chr(31)"
    tri_expr = (
        "transform(arrays_zip(slice(t, 1, size(t)-2), slice(t, 2, size(t)-2),"
        " slice(t, 3, size(t)-2)),"
        f" x -> concat(x['0'], {sep}, x['1'], {sep}, x['2']))"
    )
    bg_expr = (
        "transform(arrays_zip(slice(t, 1, size(t)-1), slice(t, 2, size(t)-1)),"
        f" x -> concat(x['0'], {sep}, x['1']))"
    )
    toks = docs.select("doc_id", tokens(F.col("text")).alias("t"))

    def _explode(df, expr, min_len, alias):
        return df.select(
            "doc_id",
            F.explode(
                F.when(F.size("t") >= min_len, F.expr(expr)).otherwise(
                    F.array().cast("array<string>")
                )
            ).alias(alias),
        )

    # per-(doc, trigram) tf over ALL docs — the scored relation
    tf = (
        _explode(toks, tri_expr, 3, "trigram")
        .groupBy("doc_id", "trigram")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    train = toks.filter(F.col("doc_id") % 2 == 0)
    tri_m = (
        _explode(train, tri_expr, 3, "trigram")
        .groupBy("trigram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt_tri"))
    )
    tri_ctx = tri_m.groupBy(
        F.substring_index("trigram", "\x1f", 2).alias("ctx12")
    ).agg(F.sum("cnt_tri").cast("bigint").alias("cnt_ctx3"))
    bi_m = (
        _explode(train, bg_expr, 2, "bigram")
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt_bi"))
    )
    bi_ctx = bi_m.groupBy(
        F.substring_index("bigram", "\x1f", 1).alias("w2")
    ).agg(F.sum("cnt_bi").cast("bigint").alias("cnt_ctx2"))
    uni_m = (
        train.select(F.explode("t").alias("w3"))
        .groupBy("w3")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt_uni"))
    )
    n_train = train.agg(
        F.coalesce(F.sum(F.size("t")), F.lit(0)).cast("bigint").alias("n_train")
    )

    keyed = tf.select(
        "doc_id",
        "tf",
        "trigram",
        F.substring_index("trigram", "\x1f", 2).alias("ctx12"),
        F.substring_index("trigram", "\x1f", -2).alias("bigram"),
        F.substring_index("trigram", "\x1f", -1).alias("w3"),
    ).withColumn("w2", F.substring_index(F.col("bigram"), "\x1f", 1))
    scored = (
        keyed.join(tri_m, "trigram", "left")
        .join(tri_ctx, "ctx12", "left")
        .join(bi_m, "bigram", "left")
        .join(bi_ctx, "w2", "left")
        .join(uni_m, "w3", "left")
        .crossJoin(n_train)
        .select(
            "doc_id",
            "tf",
            F.when(F.col("cnt_tri").isNotNull(), F.lit(0))
            .when(F.col("cnt_bi").isNotNull(), F.lit(1))
            .when(F.col("cnt_uni").isNotNull(), F.lit(2))
            .otherwise(F.lit(3))
            .alias("lvl"),
            F.when(
                F.col("cnt_tri").isNotNull(),
                floor_log2(F.col("cnt_ctx3")) - floor_log2(F.col("cnt_tri")),
            )
            .when(
                F.col("cnt_bi").isNotNull(),
                F.lit(1) + floor_log2(F.col("cnt_ctx2")) - floor_log2(F.col("cnt_bi")),
            )
            .when(
                F.col("cnt_uni").isNotNull(),
                F.lit(2) + floor_log2(F.col("n_train")) - floor_log2(F.col("cnt_uni")),
            )
            .otherwise(F.lit(3) + floor_log2(F.col("n_train")))
            .alias("per_occ_bits"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum("tf").cast("bigint").alias("n_trigrams"),
        F.sum(F.col("per_occ_bits") * F.col("tf")).cast("bigint").alias("total_bits"),
        (
            F.sum(F.col("per_occ_bits") * F.col("tf")).cast("double")
            / F.sum("tf").cast("double")
        ).alias("avg_bits"),
        F.sum(F.when(F.col("lvl") == 0, F.col("tf")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("n_tri_hits"),
        F.sum(F.when(F.col("lvl") == 3, F.col("tf")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("n_oov"),
    )


QUERIES["x5_trigram_backoff_surprisal"] = _q_x5_trigram_backoff_surprisal

_FL2 = "CAST(length(format('{:b}', %s)) - 1 AS BIGINT)"
_TRI_BITS_SQL = f"""CASE
    WHEN cnt_tri IS NOT NULL
        THEN {_FL2 % 'cnt_ctx3'} - {_FL2 % 'cnt_tri'}
    WHEN cnt_bi IS NOT NULL
        THEN 1 + {_FL2 % 'cnt_ctx2'} - {_FL2 % 'cnt_bi'}
    WHEN cnt_uni IS NOT NULL
        THEN 2 + {_FL2 % 'n_train'} - {_FL2 % 'cnt_uni'}
    ELSE 3 + {_FL2 % 'n_train'} END"""

# DuckDB mirror: trigrams via list_zip of three shifted slices (for
# len<3 every slice collapses to [] in both engines); split_part
# composes the same chr(31)-joined context/backoff keys. The level
# CASE is evaluated once per (doc, trigram) row, exactly like the
# Spark `when` chain.
ORACLES["x5_trigram_backoff_surprisal"] = f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS l FROM documents),
    tf AS (
        SELECT doc_id, trigram, CAST(COUNT(1) AS BIGINT) AS tf
        FROM (
            SELECT doc_id,
                   unnest(list_transform(
                       list_zip(l[1:len(l)-2], l[2:len(l)-1], l[3:len(l)]),
                       x -> x[1] || chr(31) || x[2] || chr(31) || x[3]
                   )) AS trigram
            FROM toks WHERE len(l) >= 3
        )
        GROUP BY doc_id, trigram
    ), tri_m AS (
        SELECT trigram, CAST(COUNT(1) AS BIGINT) AS cnt_tri
        FROM (
            SELECT unnest(list_transform(
                       list_zip(l[1:len(l)-2], l[2:len(l)-1], l[3:len(l)]),
                       x -> x[1] || chr(31) || x[2] || chr(31) || x[3]
                   )) AS trigram
            FROM toks WHERE doc_id % 2 = 0 AND len(l) >= 3
        )
        GROUP BY trigram
    ), tri_ctx AS (
        SELECT split_part(trigram, chr(31), 1) || chr(31)
                   || split_part(trigram, chr(31), 2) AS ctx12,
               CAST(SUM(cnt_tri) AS BIGINT) AS cnt_ctx3
        FROM tri_m GROUP BY ctx12
    ), bi_m AS (
        SELECT bigram, CAST(COUNT(1) AS BIGINT) AS cnt_bi
        FROM (
            SELECT unnest(list_transform(
                       list_zip(l[1:len(l)-1], l[2:len(l)]),
                       x -> x[1] || chr(31) || x[2]
                   )) AS bigram
            FROM toks WHERE doc_id % 2 = 0
        )
        GROUP BY bigram
    ), bi_ctx AS (
        SELECT split_part(bigram, chr(31), 1) AS w2,
               CAST(SUM(cnt_bi) AS BIGINT) AS cnt_ctx2
        FROM bi_m GROUP BY w2
    ), uni_m AS (
        SELECT w3, CAST(COUNT(1) AS BIGINT) AS cnt_uni
        FROM (SELECT unnest(l) AS w3 FROM toks WHERE doc_id % 2 = 0)
        GROUP BY w3
    ), n_tr AS (
        SELECT CAST(COALESCE(SUM(len(l)), 0) AS BIGINT) AS n_train
        FROM toks WHERE doc_id % 2 = 0
    ), keyed AS (
        SELECT doc_id, tf, trigram,
               split_part(trigram, chr(31), 1) || chr(31)
                   || split_part(trigram, chr(31), 2) AS ctx12,
               split_part(trigram, chr(31), 2) || chr(31)
                   || split_part(trigram, chr(31), 3) AS bigram,
               split_part(trigram, chr(31), 2) AS w2,
               split_part(trigram, chr(31), 3) AS w3
        FROM tf
    ), scored AS (
        SELECT doc_id, tf,
               CASE WHEN cnt_tri IS NOT NULL THEN 0
                    WHEN cnt_bi IS NOT NULL THEN 1
                    WHEN cnt_uni IS NOT NULL THEN 2
                    ELSE 3 END AS lvl,
               {_TRI_BITS_SQL} AS per_occ_bits
        FROM keyed
        LEFT JOIN tri_m USING (trigram)
        LEFT JOIN tri_ctx USING (ctx12)
        LEFT JOIN bi_m USING (bigram)
        LEFT JOIN bi_ctx USING (w2)
        LEFT JOIN uni_m USING (w3)
        CROSS JOIN n_tr
    )
    SELECT doc_id,
           CAST(SUM(tf) AS BIGINT) AS n_trigrams,
           CAST(SUM(per_occ_bits * tf) AS BIGINT) AS total_bits,
           CAST(SUM(per_occ_bits * tf) AS DOUBLE)
               / CAST(SUM(tf) AS DOUBLE) AS avg_bits,
           CAST(SUM(CASE WHEN lvl = 0 THEN tf ELSE 0 END) AS BIGINT) AS n_tri_hits,
           CAST(SUM(CASE WHEN lvl = 3 THEN tf ELSE 0 END) AS BIGINT) AS n_oov
    FROM scored GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# BM25 retrieval: rank the corpus against a fixed query term set
# ---------------------------------------------------------------------------

#: the standing query the retrieval demo ranks against
BM25_QUERY_TERMS = ["merge", "window", "stream"]

#: BM25 shape parameters (the standard Robertson defaults)
BM25_K1 = 1.2
BM25_B = 0.75

#: top-k results returned
BM25_TOPK = 20


def _q_x5_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval over the corpus for a fixed query — the lexical
    leg of a retrieval/dedup stack next to x4's vector leg. Per query
    term: tf saturation tf·(k1+1)/(tf + k1·(1−b + b·dl/avgdl)) and an
    IDF weight; summed per doc; top-k by score.

    Determinism contract: IDF is bit-quantized (whole-bit
    floor(log2 N_docs) − floor(log2 df), :func:`floor_log2`) and the
    saturation term — a fixed-shape IEEE mul/div expression both
    engines evaluate identically — is quantized to bigint at 1e9
    before the per-doc SUM, so accumulation is exact and the (score,
    doc_id) ordering has no float tie ambiguity. Same contract as
    PageRank's quantized contributions.

    100 TB shape: the explode filters to QUERY terms immediately
    (postings for 3 tokens, not the vocabulary), df/avgdl/N ride as
    1-row or k-row auto-broadcast aggregates, and the final top-k is
    TakeOrderedAndProject — per-partition heads, never a global sort."""
    docs = load_table(spark, sf_dir, "documents")
    lengths = docs.select(
        "doc_id", token_count(F.col("text")).alias("dl")
    )
    stats = lengths.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "avgdl"
        ),
    )
    tf = (
        docs.select("doc_id", _token_explode_col().alias("token"))
        .filter(F.col("token").isin(BM25_QUERY_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    k1, b = F.lit(BM25_K1), F.lit(BM25_B)
    sat = (
        F.col("tf").cast("double")
        * F.lit(BM25_K1 + 1.0)
        / (
            F.col("tf").cast("double")
            + k1 * (F.lit(1.0 - BM25_B) + b * F.col("dl").cast("double") / F.col("avgdl"))
        )
    )
    contrib = (
        (floor_log2(F.col("n_docs")) - floor_log2(F.col("df")))
        * F.floor(sat * F.lit(1e9)).cast("bigint")
    ).alias("q")
    scored = (
        tf.join(df_, "token")
        .join(lengths, "doc_id")
        .crossJoin(stats)
        .select("doc_id", contrib)
        .groupBy("doc_id")
        .agg(F.sum("q").cast("bigint").alias("score_q"))
    )
    return scored.orderBy(F.col("score_q").desc(), F.col("doc_id")).limit(
        BM25_TOPK
    )


QUERIES["x5_bm25_topk"] = _q_x5_bm25_topk
ORACLES["x5_bm25_topk"] = f"""
    WITH lengths AS (
        SELECT doc_id, {_NTOK} AS dl FROM documents
    ), stats AS (
        SELECT CAST(COUNT(1) AS BIGINT) AS n_docs,
               CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(1) AS DOUBLE) AS avgdl
        FROM lengths
    ), tf AS (
        SELECT doc_id, token, CAST(COUNT(1) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest({_TOKS}) AS token FROM documents)
        WHERE token IN ({", ".join(repr(t) for t in BM25_QUERY_TERMS)})
        GROUP BY doc_id, token
    ), dfreq AS (
        SELECT token, CAST(COUNT(1) AS BIGINT) AS df FROM tf GROUP BY token
    )
    SELECT doc_id,
           CAST(SUM(
               (CAST(length(format('{{:b}}', n_docs)) - 1 AS BIGINT)
                - CAST(length(format('{{:b}}', df)) - 1 AS BIGINT))
               * CAST(floor(
                   CAST(tf AS DOUBLE) * {BM25_K1 + 1.0}
                   / (CAST(tf AS DOUBLE)
                      + {BM25_K1} * ({1.0 - BM25_B} + {BM25_B} * CAST(dl AS DOUBLE) / avgdl))
                   * 1e9) AS BIGINT)
           ) AS BIGINT) AS score_q
    FROM tf JOIN dfreq USING (token) JOIN lengths USING (doc_id) CROSS JOIN stats
    GROUP BY doc_id
    ORDER BY score_q DESC, doc_id
    LIMIT {BM25_TOPK}
"""


# ---------------------------------------------------------------------------
# Ordered reassembly: chunks → documents (round-trip of the chunking op)
# ---------------------------------------------------------------------------


def _q_x5_reassemble_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-correct re-aggregation: split each doc (doc_id < 50, the
    x5_udtf_chunks slice) into 10-token chunks, shuffle them apart,
    and REASSEMBLE the document by chunk index — proving the engine
    can round-trip the chunking used for packing/embedding without
    scrambling order. The distributed pitfall this pins:
    `collect_list` has NO deterministic order after a shuffle, so the
    assembly key must travel with the chunk and the array must be
    `array_sort`-ed on it (struct sort: chunk_idx leads) BEFORE
    joining — the naive collect-then-concat is nondeterministic and
    would flunk this oracle on any multi-partition run.

    tie-order: unique-key — chunk_idx is unique per doc_id by
    construction (one chunk per sequence index), so the struct sort is
    a deterministic total order; no tiebreakers needed."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    # token array bound once per row (exprs.bind): the alias form only
    # escaped CollapseProject's inline via the multi-use heuristic —
    # the bound lambda variable is robust to it
    chunked = docs.select(
        "doc_id",
        F.explode(
            bind(
                tokens(F.col("text")),
                lambda tk: F.transform(
                    F.sequence(
                        F.lit(0),
                        F.ceil(F.size(tk) / F.lit(10.0)).cast("int") - 1,
                    ),
                    lambda i: F.struct(
                        i.alias("chunk_idx"),
                        F.array_join(F.slice(tk, i * 10 + 1, 10), " ").alias(
                            "chunk_text"
                        ),
                    ),
                ),
            )
        ).alias("c"),
    ).select("doc_id", F.col("c.chunk_idx"), F.col("c.chunk_text"))
    # force the chunks through an exchange so a wrong (order-reliant)
    # implementation could actually scramble
    scattered = chunked.repartition(8, "chunk_idx")
    return (
        scattered.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("chunk_idx", "chunk_text"))
                    ),
                    lambda s: s["chunk_text"],
                ),
                " ",
            ).alias("reassembled")
        )
    )


QUERIES["x5_reassemble_chunks"] = _q_x5_reassemble_chunks
ORACLES["x5_reassemble_chunks"] = f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS} AS tk FROM documents WHERE doc_id < 50
    ), chunks AS (
        SELECT doc_id, i AS chunk_idx,
               array_to_string(list_slice(tk, i*10+1, i*10+10), ' ') AS chunk_text
        FROM toks, LATERAL (
            SELECT unnest(range(0, CAST(ceil(len(tk)/10.0) AS BIGINT))) AS i
        ) u
    )
    SELECT doc_id, string_agg(chunk_text, ' ' ORDER BY chunk_idx) AS reassembled
    FROM chunks GROUP BY doc_id
"""
