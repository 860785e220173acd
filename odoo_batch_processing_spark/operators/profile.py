"""Data profiling: the per-column health sweep an ingest pipeline
runs on every batch before accepting it (null spike? cardinality
collapse? domain drift on min/max?).

No reference analog (the closest is the dialog's row-count info text,
Odoo-Batch-Processing.user.js:202-208 — R6); this is engine-
completeness surface. Shape: ONE scan computes every column's
aggregates side by side (Catalyst collapses them into a single
partial+final aggregation), then the 1×(4·k) row is unpivoted
driver-free into the (column, stat) long form with ``stack`` — the
profile of a 100 TB table costs one pass, not one pass per column.

Exact COUNT(DISTINCT) is used so the whole profile sits under the
DuckDB hash gate; at real scale swap `approx_count_distinct` (the
x8 family documents the sketch-vs-exact contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from odoo_batch_processing_spark.sources.loader import load_table

#: columns profiled by the catalog query — a numeric, a string, a
#: date-typed and a key column, covering every stat branch
PROFILE_COLS = ("l_quantity", "l_returnflag", "l_shipdate", "l_partkey")


def profile(df: DataFrame, cols: tuple[str, ...]) -> DataFrame:
    """(column, n_rows, n_null, n_distinct, min_value, max_value) per
    profiled column; min/max stringified so heterogeneous types share
    one schema (timestamps in UTC ISO form via date_format — DuckDB's
    VARCHAR cast prints the identical shape)."""
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("bigint").alias(f"__null_{c}"),
            F.count_distinct(F.col(c)).alias(f"__dist_{c}"),
            F.min(c).cast("string").alias(f"__min_{c}"),
            F.max(c).cast("string").alias(f"__max_{c}"),
        ]
    one = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', __null_{c}, __dist_{c}, __min_{c}, __max_{c}" for c in cols
    )
    return one.selectExpr(
        "__n as n_rows",
        f"stack({len(cols)}, {stack_args}) as (column, n_null, n_distinct, min_value, max_value)",
    ).select("column", "n_rows", "n_null", "n_distinct", "min_value", "max_value")


def _q_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    return profile(load_table(spark, sf_dir, "lineitem"), PROFILE_COLS)


QUERIES = {"profile_lineitem": _q_profile_lineitem}


def _col_profile_sql(c: str) -> str:
    return f"""
        SELECT '{c}' AS column,
               (SELECT COUNT(1) FROM lineitem) AS n_rows,
               CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
               COUNT(DISTINCT {c}) AS n_distinct,
               CAST(MIN({c}) AS VARCHAR) AS min_value,
               CAST(MAX({c}) AS VARCHAR) AS max_value
        FROM lineitem
    """


ORACLES = {
    "profile_lineitem": " UNION ALL ".join(_col_profile_sql(c) for c in PROFILE_COLS)
}


def portable_row_hash_hex(cols: tuple[str, ...]) -> "F.Column":
    """Engine-portable full md5 hex digest (32 lowercase hex chars) of
    the '|'-joined stringified columns — the shared primitive under
    :func:`_portable_row_hash`, usable as a total-order tiebreaker
    column. md5 hex prints identically in Spark and DuckDB (unlike
    xxhash64 whose seeds differ across engines), and the hex STRING also *orders*
    identically (both lowercase, byte-wise collation), so it is safe
    both to compare and to ORDER BY cross-engine. NULLs encode as a
    NUL-byte sentinel before joining — concat_ws would silently SKIP
    them (making (NULL,'x') collide with ('x',)), and a bare '||'
    concatenation nulls the whole hash. Cross-engine stringification
    of bigint/int/double/varchar/timestamp verified empirically at
    sf0.001/0.01/0.1 (0 hash mismatches on lineitem's 11 columns).

    Known residual (same class as the NUL-string note on table_diff):
    the '|' join is ambiguous for VALUES containing '|' — ('x|y','z')
    collides with ('x','y|z'). Harmless for checksum/diff users
    (a vanishingly rare false "equal"), and LOUD for ordinal users:
    a collision there is a duplicate sort key, which
    validate_unique's lag guard raises on. Domains with pipe-bearing
    keys should length-prefix or swap the delimiter."""
    return F.md5(
        F.concat_ws(
            "|",
            *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols],
        )
    )


def portable_row_hash_hex_sql(cols: tuple[str, ...]) -> str:
    """DuckDB expression mirroring :func:`portable_row_hash_hex`
    byte-for-byte — ONE definition pair so Spark query and SQL oracle
    cannot drift. chr(0) is the same NUL sentinel as the Spark side."""
    joined = " || '|' || ".join(
        f"COALESCE(CAST({c} AS VARCHAR), chr(0))" for c in cols
    )
    return f"md5({joined})"


def _portable_row_hash(cols: tuple[str, ...]):
    """The engine-portable md5-prefix row hash shared by
    :func:`table_checksum` (XOR-folds it) and :func:`table_diff`
    (compares it per key) — ONE definition so the two cannot drift:
    a diff the checksum can see is a diff the row-level diff can
    name, and vice versa. First 15 hex chars of
    :func:`portable_row_hash_hex`, folded to a 60-bit integer for
    cheap XOR aggregation."""
    return F.conv(F.substring(portable_row_hash_hex(cols), 1, 15), 16, 10).cast(
        "bigint"
    )


def table_checksum(df: DataFrame, key_cols: tuple[str, ...], group_cols: tuple[str, ...] = ()) -> DataFrame:
    """Order-independent content checksum: XOR-fold a per-row md5-
    derived 60-bit integer, optionally per group — the anti-entropy
    primitive for verifying a replicated/migrated table without
    sorting it (two copies match iff their checksums match, any row
    diff flips bits).

    Why XOR and not SUM: XOR is order- and partition-independent like
    SUM but cannot overflow, so it needs no modulus at any row count —
    and a mismatch localizes by re-checksumming halves (the standard
    anti-entropy descent). Caveat (documented, inherent to XOR): an
    EVEN number of identical duplicate rows cancels out; run after
    exact dedup or include a unique key column. The per-row hash is
    :func:`_portable_row_hash` — shared with :func:`table_diff`, see
    its docstring for the encoding contract.
    """
    row_h = _portable_row_hash(key_cols)
    gb = df.groupBy(*[F.col(c) for c in group_cols]) if group_cols else df.groupBy()
    return gb.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.bit_xor(row_h).alias("checksum"),
    )


def _q_profile_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source checksum of the documents table (doc_id + text as
    the content key): one scan, map-side partial XORs, a shuffle of
    one row per group."""
    docs = load_table(spark, sf_dir, "documents")
    return table_checksum(docs, ("doc_id", "text"), ("source",))


QUERIES["profile_checksum"] = _q_profile_checksum
ORACLES["profile_checksum"] = """
    SELECT source,
           COUNT(1) AS n_rows,
           bit_xor(CAST(('0x' || substr(md5(
               COALESCE(CAST(doc_id AS VARCHAR), chr(0)) || '|' || COALESCE(text, chr(0))
           ), 1, 15)) AS BIGINT)) AS checksum
    FROM documents
    GROUP BY source
"""


def checksum_diff(a: DataFrame, b: DataFrame, key_cols: tuple[str, ...], bucket_col, n_buckets: int = 16) -> DataFrame:
    """Anti-entropy DESCENT step: bucket both relations on a key hash,
    checksum each bucket, and return only the buckets whose checksums
    disagree — the localization move that turns "the 100 TB replicas
    differ" into "re-sync these partitions". Each side is one scan +
    a tiny n_buckets-row shuffle; recursing into a differing bucket
    with a finer bucket_col gives the standard log-descent."""
    def per_bucket(df):
        return table_checksum(
            df.withColumn("__bucket", bucket_col % n_buckets),
            key_cols,
            ("__bucket",),
        )

    ca = per_bucket(a).select(
        F.col("__bucket").alias("bucket"),
        F.col("n_rows").alias("n_rows_a"),
        F.col("checksum").alias("checksum_a"),
    )
    cb = per_bucket(b).select(
        F.col("__bucket").alias("bucket"),
        F.col("n_rows").alias("n_rows_b"),
        F.col("checksum").alias("checksum_b"),
    )
    return (
        ca.join(cb, "bucket", "full_outer")
        .filter(
            ~(
                F.col("checksum_a").eqNullSafe(F.col("checksum_b"))
                & F.col("n_rows_a").eqNullSafe(F.col("n_rows_b"))
            )
        )
        .orderBy("bucket")
    )


def _q_profile_checksum_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replica-divergence localization on a deterministic fault: the
    'replica' is the documents table with doc_id 42's text tampered,
    so exactly the buckets containing doc 42 (42 mod 16 = 10) must
    surface — and only those."""
    docs = load_table(spark, sf_dir, "documents")
    replica = docs.withColumn(
        "text",
        F.when(F.col("doc_id") == 42, F.lit("TAMPERED")).otherwise(F.col("text")),
    )
    return checksum_diff(docs, replica, ("doc_id", "text"), F.col("doc_id"))


QUERIES["profile_checksum_diff"] = _q_profile_checksum_diff
_CK = (
    "CAST(('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR), chr(0)) || '|' "
    "|| COALESCE(text, chr(0))), 1, 15)) AS BIGINT)"
)
_CK_T = (
    "CAST(('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR), chr(0)) || '|' "
    "|| COALESCE(CASE WHEN doc_id = 42 THEN 'TAMPERED' ELSE text END, chr(0))), 1, 15)) AS BIGINT)"
)
ORACLES["profile_checksum_diff"] = f"""
    WITH a AS (
        SELECT doc_id % 16 AS bucket, COUNT(1) AS n_rows_a, bit_xor({_CK}) AS checksum_a
        FROM documents GROUP BY 1
    ), b AS (
        SELECT doc_id % 16 AS bucket, COUNT(1) AS n_rows_b, bit_xor({_CK_T}) AS checksum_b
        FROM documents GROUP BY 1
    )
    SELECT bucket, n_rows_a, checksum_a, n_rows_b, checksum_b
    FROM a JOIN b USING (bucket)
    WHERE checksum_a IS DISTINCT FROM checksum_b OR n_rows_a IS DISTINCT FROM n_rows_b
    ORDER BY bucket
"""


# ---------------------------------------------------------------------------
# Row-level diff: the reconciliation step after checksum_diff localizes
# ---------------------------------------------------------------------------


def table_diff(
    a: DataFrame,
    b: DataFrame,
    key_cols: tuple[str, ...],
    content_cols: tuple[str, ...],
) -> DataFrame:
    """Row-level reconciliation — the terminal step of the
    anti-entropy descent: after :func:`checksum_diff` narrows the
    divergence to buckets, this names the keys. Full-outer join on
    the key; each side carries only (key, content-hash), so the
    shuffle moves two slim columns per row, never document bodies.
    Returns one row per differing key with status ``added`` (only in
    b), ``removed`` (only in a), or ``changed`` (both, different
    content hash); identical rows produce nothing. In production the
    inputs are the PRE-FILTERED divergent buckets, so the join is
    O(bucket), not O(table) — the fixture query feeds whole tables to
    keep the oracle one self-contained statement.

    NULL semantics: a NULL↔value content change IS reported as
    ``changed`` (the row hash encodes NULL as a NUL-byte sentinel, and
    the oracle mirrors it with IS DISTINCT FROM). Known residual: a
    content value that is literally one NUL byte collides with NULL in
    the hash — acceptable for text corpora, use a longer sentinel if
    your domain can contain bare NUL strings."""
    h = _portable_row_hash(content_cols)
    ha = a.select(*key_cols, h.alias("__h_a"))
    hb = b.select(*key_cols, h.alias("__h_b"))
    j = ha.join(hb, list(key_cols), "full_outer")
    status = (
        F.when(F.col("__h_a").isNull(), F.lit("added"))
        .when(F.col("__h_b").isNull(), F.lit("removed"))
        .when(F.col("__h_a") != F.col("__h_b"), F.lit("changed"))
    )
    return (
        j.withColumn("status", status)
        .filter(F.col("status").isNotNull())
        .select(*key_cols, "status")
    )


def _q_profile_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic three-fault replica: doc 42 tampered (changed),
    doc 7 missing (removed), doc 1000042 appended (added). The diff
    must name exactly those keys with exactly those statuses."""
    docs = load_table(spark, sf_dir, "documents")
    replica = (
        docs.filter(F.col("doc_id") != 7)
        .withColumn(
            "text",
            F.when(F.col("doc_id") == 42, F.lit("TAMPERED")).otherwise(
                F.col("text")
            ),
        )
        .unionAll(
            # tie-order: the bare limit(1) picks an arbitrary donor row,
            # but only its NON-(doc_id, text) columns leak through —
            # and the diff below hashes content_cols = (doc_id, text)
            # only, so the arbitrariness is value-invisible. Widening
            # content_cols would require literal values here.
            docs.limit(1).select(
                F.lit(1000042).cast(docs.schema["doc_id"].dataType).alias("doc_id"),
                F.lit("NEW ROW").alias("text"),
                *[F.col(c) for c in docs.columns if c not in ("doc_id", "text")],
            ).select(*docs.columns)
        )
    )
    return table_diff(docs, replica, ("doc_id",), ("doc_id", "text"))


QUERIES["profile_table_diff"] = _q_profile_table_diff
ORACLES["profile_table_diff"] = """
    WITH replica AS (
        SELECT doc_id,
               CASE WHEN doc_id = 42 THEN 'TAMPERED' ELSE text END AS text
        FROM documents WHERE doc_id <> 7
        UNION ALL
        SELECT 1000042 AS doc_id, 'NEW ROW' AS text
    )
    SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
           CASE WHEN a.doc_id IS NULL THEN 'added'
                WHEN b.doc_id IS NULL THEN 'removed'
                WHEN a.text IS DISTINCT FROM b.text THEN 'changed'
           END AS status
    FROM documents a FULL OUTER JOIN replica b USING (doc_id)
    WHERE a.doc_id IS NULL OR b.doc_id IS NULL OR a.text IS DISTINCT FROM b.text
"""


# ---------------------------------------------------------------------------
# Per-group z-score standardization (feature normalization)
# ---------------------------------------------------------------------------


def _q_profile_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score standardization of events.value — the
    feature-normalization pass every downstream model consumer wants,
    grouped by event_type so each behavior class is standardized
    against its own distribution.

    Determinism: the two moments accumulate as EXACT decimal sums of
    3-decimal-QUANTIZED values (Σv, Σv² at scale 3/6 — partition-
    order-independent, unlike double sums), and only the final
    mean/variance/z arithmetic runs in double — a fixed shape of IEEE
    mul/div/sqrt (sqrt is correctly rounded by standard, so engines
    agree bit-for-bit). The 3-dp quantization is load-bearing: it
    keeps Σv² in integer micro-units below 2^53, so the decimal→
    double cast is EXACT — measured: a scale-12 Σv² at ~1e7 magnitude
    casts to different last-ulp doubles on Spark vs DuckDB (int128
    path), while every scale-6 sum agrees. Two passes over the group
    in ONE plan: the moments aggregate (map-side combinable, one row
    per group) joins back onto the rows. Degenerate groups (n=1 or
    zero variance) yield NULL z rather than ±inf. At 100 TB: the
    2^53 budget holds to Σv² ≈ 9e9 (billions of unit-scale values
    per group); beyond that, shift the quantization down a digit."""
    ev = load_table(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(18,3)")
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(dec).alias("s1"),
        F.sum(dec * dec).alias("s2"),
    )
    n = F.col("n").cast("double")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    var = (s2 - s1 * s1 / n) / n
    joined = ev.join(stats, "event_type").select(
        "event_id",
        "event_type",
        F.when(
            var > 0,
            (F.col("value") - s1 / n) / F.sqrt(var),
        ).alias("z"),
    )
    return joined


QUERIES["profile_zscore"] = _q_profile_zscore
ORACLES["profile_zscore"] = """
    WITH stats AS (
        SELECT event_type,
               CAST(COUNT(1) AS BIGINT) AS n,
               SUM(CAST(value AS DECIMAL(18,3))) AS s1,
               SUM(CAST(value AS DECIMAL(18,3)) * CAST(value AS DECIMAL(18,3))) AS s2
        FROM events GROUP BY event_type
    )
    SELECT event_id, event_type,
           CASE WHEN (CAST(s2 AS DOUBLE)
                      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                     / CAST(n AS DOUBLE) > 0
                THEN (value - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                     / sqrt((CAST(s2 AS DOUBLE)
                             - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                            / CAST(n AS DOUBLE))
           END AS z
    FROM events JOIN stats USING (event_type)
"""


# ---------------------------------------------------------------------------
# Data-quality expectations (dbt-test / Great-Expectations shape)
# ---------------------------------------------------------------------------


def _q_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality suite over the warehouse tables — the
    pre-ingest contract check every pipeline runs before promoting a
    batch: key uniqueness, referential integrity, value ranges,
    null-rate, accepted values. One row per expectation with its
    violation count and pass/fail; a scheduler gates promotion on
    ``bool_and(passed)``.

    Shape: each check is one aggregate over one scan (map-side
    combinable count of a boolean) or one anti-join on a key —
    nothing materializes violating ROWS here, only counts, so the
    suite's cost is bounded by the scans. The union of 6 one-row
    relations is negligible. At 100 TB run the checks against the
    NEW partition only; the referential anti-join's right side is the
    dimension key set (project the key column — Catalyst prunes it to
    the scan)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")

    def one(name: str, n_viol):
        return n_viol.select(
            F.lit(name).alias("expectation"),
            F.col("n").cast("bigint").alias("n_violations"),
            (F.col("n") == 0).alias("passed"),
        )

    uniq = orders.groupBy("o_orderkey").agg(F.count(F.lit(1)).alias("c")).agg(
        F.sum(F.when(F.col("c") > 1, 1).otherwise(0)).alias("n")
    )
    ref_cust = (
        orders.join(
            customer.select(F.col("c_custkey").alias("o_custkey")),
            "o_custkey",
            "left_anti",
        ).agg(F.count(F.lit(1)).alias("n"))
    )
    ref_ord = (
        lineitem.join(
            orders.select(F.col("o_orderkey").alias("l_orderkey")),
            "l_orderkey",
            "left_anti",
        ).agg(F.count(F.lit(1)).alias("n"))
    )
    disc_range = lineitem.agg(
        F.sum(
            F.when(
                (F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1
            ).otherwise(0)
        ).alias("n")
    )
    name_null = customer.agg(
        F.sum(F.when(F.col("c_name").isNull(), 1).otherwise(0)).alias("n")
    )
    flag_vals = lineitem.agg(
        F.sum(
            F.when(~F.col("l_returnflag").isin("A", "N", "R"), 1).otherwise(0)
        ).alias("n")
    )
    return (
        one("orders.o_orderkey unique", uniq)
        .unionAll(one("orders.o_custkey in customer", ref_cust))
        .unionAll(one("lineitem.l_orderkey in orders", ref_ord))
        .unionAll(one("lineitem.l_discount in [0,1]", disc_range))
        .unionAll(one("customer.c_name not null", name_null))
        .unionAll(one("lineitem.l_returnflag accepted", flag_vals))
    )


QUERIES["dq_expectations"] = _q_dq_expectations
ORACLES["dq_expectations"] = """
    SELECT 'orders.o_orderkey unique' AS expectation,
           CAST(COALESCE(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_violations,
           COALESCE(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END), 0) = 0 AS passed
    FROM (SELECT o_orderkey, COUNT(1) AS c FROM orders GROUP BY 1)
    UNION ALL
    SELECT 'orders.o_custkey in customer',
           CAST(COUNT(1) AS BIGINT),
           COUNT(1) = 0
    FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
    UNION ALL
    SELECT 'lineitem.l_orderkey in orders',
           CAST(COUNT(1) AS BIGINT),
           COUNT(1) = 0
    FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
    UNION ALL
    SELECT 'lineitem.l_discount in [0,1]',
           CAST(COALESCE(SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END), 0) AS BIGINT),
           COALESCE(SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END), 0) = 0
    FROM lineitem
    UNION ALL
    SELECT 'customer.c_name not null',
           CAST(COALESCE(SUM(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT),
           COALESCE(SUM(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END), 0) = 0
    FROM customer
    UNION ALL
    SELECT 'lineitem.l_returnflag accepted',
           CAST(COALESCE(SUM(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END), 0) AS BIGINT),
           COALESCE(SUM(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END), 0) = 0
    FROM lineitem
"""


# ---------------------------------------------------------------------------
# Robust outlier flagging (median/MAD — resistant to the outliers themselves)
# ---------------------------------------------------------------------------

#: MAD-to-sigma consistency constant × the conventional 3-sigma cut
ROBUST_K = 3.0 * 1.4826


def _q_profile_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier flags: |x − median| > 3·1.4826·MAD.
    Unlike the z-score (mean/std are THEMSELVES dragged by outliers),
    median/MAD break down only past 50 % contamination — the standard
    robust alternative. Exact medians travel across engines
    (`F.percentile` ≡ DuckDB `quantile_cont`, the proven x8_exact_aggs
    contract), and the remaining float ops (abs/sub/mul/compare) are
    fixed-shape IEEE. Two grouped exact percentiles = two shuffles of
    (group, value) pairs; at 100 TB swap `percentile` for
    `percentile_approx` and widen the cut — the plan shape is
    unchanged."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("med")
    )
    with_dev = ev.join(med, "event_type").withColumn(
        "dev", F.abs(F.col("value") - F.col("med"))
    )
    mad = with_dev.groupBy("event_type").agg(
        F.percentile("dev", 0.5).alias("mad")
    )
    return (
        with_dev.join(mad, "event_type")
        .select(
            "event_id",
            "event_type",
            (F.col("dev") > F.lit(ROBUST_K) * F.col("mad")).alias("is_outlier"),
        )
    )


QUERIES["profile_robust_outliers"] = _q_profile_robust_outliers
ORACLES["profile_robust_outliers"] = f"""
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM events GROUP BY event_type
    ), dev AS (
        SELECT event_id, e.event_type, abs(value - med) AS dev
        FROM events e JOIN med USING (event_type)
    ), mad AS (
        SELECT event_type, quantile_cont(dev, 0.5) AS mad
        FROM dev GROUP BY event_type
    )
    SELECT event_id, dev.event_type, dev.dev > {ROBUST_K} * mad.mad AS is_outlier
    FROM dev JOIN mad USING (event_type)
"""
