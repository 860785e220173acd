"""Python API breadth: pandas-on-Spark and mapInArrow.

Two user-facing Python surfaces the rest of the catalog doesn't
exercise: the pandas API on Spark (``pyspark.pandas`` — the
drop-in-pandas layer that compiles to the same Catalyst plans, the
on-ramp for pandas-native users at cluster scale) and ``mapInArrow``
(the lowest-overhead Python batch hook: raw Arrow RecordBatches, no
pandas conversion — what vectorized feature extractors want when
pandas materialization is the bottleneck).

Both queries keep deliberately join/agg-expressible semantics so the
API machinery itself sits under the exact DuckDB gate — the same
certification pattern as grouped_cogroup_enrich.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from odoo_batch_processing_spark.sources.loader import load_table


def _q_ps_groupby_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document stats through ``pyspark.pandas``: read →
    groupby → agg in pandas idiom, then ``to_spark()`` back into the
    engine. Integer-only measures (count / sum of n_chars / min-max
    ids) so the result hash-matches regardless of the pandas layer's
    internal ordering. The plan underneath is the same partial+final
    hash aggregate a DataFrame groupBy produces — the point of the
    query is certifying that equivalence."""
    import pyspark.pandas as ps

    # route through the loaded relation (not ps.read_parquet) so the
    # loader's schema normalizations apply identically to both tiers
    pdf = load_table(spark, sf_dir, "documents").pandas_api()
    out = (
        # dropna=False: the pandas default silently drops a NULL group
        # key, where the oracle's GROUP BY keeps it
        pdf.groupby("source", dropna=False)
        .agg(
            n_docs=("doc_id", "count"),
            total_chars=("n_chars", "sum"),
            first_doc=("doc_id", "min"),
            last_doc=("doc_id", "max"),
        )
        .reset_index()
    )
    sdf = out.to_spark()
    return sdf.select(
        "source",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("total_chars").cast("bigint").alias("total_chars"),
        F.col("first_doc").cast("bigint").alias("first_doc"),
        F.col("last_doc").cast("bigint").alias("last_doc"),
    )


def _q_arrow_map_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counting via ``mapInArrow`` — the zero-copy
    Python batch path: each partition arrives as Arrow RecordBatches
    and is transformed with ``pyarrow.compute`` kernels (C++-backed,
    no pandas objects, no per-row Python). The set-based twin is the
    pure-expression token_count in operators/text.py; the oracle is
    shared semantics, proving the Arrow path computes exactly what
    the codegen'd expression does."""

    def count_tokens(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            toks = pc.split_pattern(batch.column("text"), " ")
            # same rule as text.tokens (trim(x) <> ''): a slot from a
            # split on ' ' can never itself contain a space, so the
            # blank test is exact equality with '' — NOT a whitespace
            # trim, which would also strip tabs/newlines that Spark's
            # trim and the DuckDB oracle keep
            flat = pc.list_flatten(toks)
            blank = pc.equal(flat, "")
            parents = pc.list_parent_indices(toks)
            blank_per_row = pa.Table.from_arrays(
                [parents, pc.cast(blank, pa.int64())], names=["i", "b"]
            ).group_by("i").aggregate([("b", "sum")])
            n_rows = batch.num_rows
            import numpy as np

            blanks = np.zeros(n_rows, dtype="int64")
            idx = blank_per_row.column("i").to_numpy(zero_copy_only=False)
            bsum = blank_per_row.column("b_sum").to_numpy(zero_copy_only=False)
            blanks[idx] = bsum
            # arrow-side subtraction so a NULL text row stays NULL
            # (list_value_length is null there; a numpy round-trip
            # would turn NaN into int garbage)
            total = pc.cast(pc.list_value_length(toks), pa.int64())
            n_tokens = pc.subtract(total, pa.array(blanks, type=pa.int64()))
            yield pa.RecordBatch.from_arrays(
                [batch.column("doc_id"), n_tokens],
                names=["doc_id", "n_tokens"],
            )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInArrow(count_tokens, "doc_id bigint, n_tokens bigint")


QUERIES = {
    "ps_groupby_stats": _q_ps_groupby_stats,
    "arrow_map_tokens": _q_arrow_map_tokens,
}

ORACLES = {
    "ps_groupby_stats": """
        SELECT source,
               COUNT(doc_id) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               MIN(doc_id) AS first_doc,
               MAX(doc_id) AS last_doc
        FROM documents
        GROUP BY source
    """,
    "arrow_map_tokens": """
        SELECT doc_id,
               CAST(len(list_filter(string_split(text, ' '), x -> trim(x) <> '')) AS BIGINT) AS n_tokens
        FROM documents
    """,
}
