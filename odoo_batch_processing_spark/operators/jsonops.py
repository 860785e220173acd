"""JSON / semi-structured column handling (X6 in SURVEY.md §2.3).

The reference has no JSON anywhere; the driver's ``events.props``
column (a JSON blob in a string) mandates this surface. Everything is
built-in (`from_json`, `get_json_object`) — JVM-side parsing, no UDFs.

Scale note: `from_json` with an explicit schema is a single
codegen'd projection; schema inference (`schema_of_json`) samples the
data and is dev-path only, mirroring the engine's schema-on-read rule
(schemas.py docstring).

Spark 4 adds VARIANT (`parse_json`/`variant_get`): one parse per row
into a binary encoding, then any number of typed path extractions
WITHOUT re-parsing — the right shape when a payload is heterogeneous
or deeply nested and a fixed `from_json` schema can't be declared up
front. Repeated `get_json_object` calls re-parse the string per call;
at 100 TB that's the difference between one scan-side decode and k of
them. `x6_variant_shred` exercises the full path surface (nested
object, array index, typed get, missing-path NULL) under the hash
gate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F, types as T

from odoo_batch_processing_spark.sources.loader import fan_out, load_table

PROPS_SCHEMA = T.StructType([T.StructField("k", T.IntegerType())])


def parse_props(props: Column) -> Column:
    """Typed parse of the events.props blob."""
    return F.from_json(props, PROPS_SCHEMA)


def json_path_int(props: Column, path: str) -> Column:
    """Stringly-typed extraction (the get_json_object route)."""
    return F.get_json_object(props, path).try_cast("int")


def _q_x6_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    parsed = parse_props(F.col("props"))
    return ev.select(
        "event_id",
        parsed.getField("k").alias("k_typed"),
        json_path_int(F.col("props"), "$.k").alias("k_pathed"),
    )


def _q_x6_json_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group by a value extracted from JSON — the parse must push into
    the scan projection, then it's an ordinary partial/final agg."""
    ev = load_table(spark, sf_dir, "events")
    k = parse_props(F.col("props")).getField("k")
    return (
        ev.select(F.pmod(k, F.lit(10)).alias("k_bucket"), "value")
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
    )


def _q_x6_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality (<=> / IS NOT DISTINCT FROM) over JSON
    extractions: a missing path yields NULL, and NULL <=> NULL is TRUE
    where ordinary equality is NULL — the semantics dedup/merge keys
    need when nullable."""
    ev = load_table(spark, sf_dir, "events")
    k = json_path_int(F.col("props"), "$.k")
    missing = json_path_int(F.col("props"), "$.absent")
    return ev.select(
        "event_id",
        k.eqNullSafe(F.lit(50)).alias("k_is_50"),
        missing.eqNullSafe(missing).alias("missing_selfmatch"),  # TRUE, not NULL
        (missing == missing).alias("plain_eq_is_null"),          # NULL
    )


def synth_nested_payload() -> Column:
    """A deterministic nested JSON document built from the event row
    (object nesting, an int array, and the original props object
    embedded) — the heterogeneous-payload stand-in the flat fixture
    props lacks. FLOOR(value*100) is IEEE-double arithmetic identical
    in Spark and DuckDB, so the oracle can recompute every field
    straight from the source columns."""
    return F.concat(
        F.lit('{"meta":{"type":"'),
        F.col("event_type"),
        F.lit('","cents":'),
        F.floor(F.col("value") * 100).cast("bigint").cast("string"),
        F.lit(',"ids":['),
        F.col("user_id").cast("string"),
        F.lit(","),
        F.col("event_id").cast("string"),
        F.lit(']},"props":'),
        F.col("props"),
        F.lit("}"),
    )


def _q_x6_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT shred: parse the nested payload ONCE (`parse_json` →
    binary variant), then five typed path extractions — nested object
    field, array element, typed int through the embedded props object,
    and a missing path that must yield NULL via `try_variant_get`.
    The scan-side cost is one decode per row regardless of how many
    paths are read (vs one re-parse per `get_json_object` call).

    OPTIMIZATION r18 (guide §2.5 input skew, the q01/q09 treatment):
    the events fixture is one row group, so the parse_json + five
    variant_get extractions ran on ONE core — ``fan_out`` spreads the
    per-row decode (no-op at corpus scale); per-row projection, so
    results are identical."""
    ev = fan_out(load_table(spark, sf_dir, "events"), spark, "event_id")
    v = F.parse_json(synth_nested_payload())
    return ev.select(
        "event_id",
        F.variant_get(v, "$.meta.type", "string").alias("vtype"),
        F.variant_get(v, "$.meta.cents", "bigint").alias("cents"),
        F.variant_get(v, "$.meta.ids[0]", "bigint").alias("first_id"),
        F.variant_get(v, "$.props.k", "int").alias("k"),
        F.try_variant_get(v, "$.meta.absent", "int").alias("absent"),
    )


# The grouped query (its grouping key IS a JSON extraction, so it
# covers typed parse + aggregation in one), the per-row extraction
# projection, the JSON-flavored null-safe equality and the VARIANT
# shred.
QUERIES = {
    "x6_json_grouped": _q_x6_json_grouped,
    "x6_json_extract": _q_x6_json_extract,
    "x6_null_safe_eq": _q_x6_null_safe_eq,
    "x6_variant_shred": _q_x6_variant_shred,
}

ORACLES = {
    "x6_json_extract": """
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_typed,
               CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_pathed
        FROM events
    """,
    "x6_json_grouped": """
        SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_bucket,
               COUNT(1) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY 1
    """,
    "x6_null_safe_eq": """
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS INTEGER) IS NOT DISTINCT FROM 50 AS k_is_50,
               CAST(json_extract_string(props, '$.absent') AS INTEGER)
                 IS NOT DISTINCT FROM CAST(json_extract_string(props, '$.absent') AS INTEGER) AS missing_selfmatch,
               CAST(json_extract_string(props, '$.absent') AS INTEGER)
                 = CAST(json_extract_string(props, '$.absent') AS INTEGER) AS plain_eq_is_null
        FROM events
    """,
    # the oracle recomputes each shredded field straight from the
    # source columns — the variant build→extract roundtrip must land
    # on exactly these values
    "x6_variant_shred": """
        SELECT event_id,
               event_type AS vtype,
               CAST(FLOOR(value * 100) AS BIGINT) AS cents,
               user_id AS first_id,
               CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
               CAST(NULL AS INTEGER) AS absent
        FROM events
    """,
}
