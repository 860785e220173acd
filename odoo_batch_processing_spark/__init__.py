"""odoo_batch_processing_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the data semantics of the reference
repo sipsak/Odoo-Batch-Processing (a browser userscript that bulk-edits
Odoo list views; see SURVEY.md) as idiomatic Spark DataFrame / SQL /
Structured Streaming programs, extended with the LLM-data-pipeline
operators (dedup, similarity search, text analysis, multimodal column
plumbing) required for 100 TB-scale training-data work.

Layout:
    session     SparkSession construction + engine-wide configuration
    schemas     explicit StructTypes for every source table
    sources     batch loaders + the synthesized ``listview`` fixture
    operators   bulk-update (R-ops), dedup, similarity, text, approx,
                windows, multimodal
    functions   reusable column expressions (vector math, coercion)
    plans       whole analytic queries (star-schema flagship et al.)
    streaming   throttled micro-batch update, change source, progress
    registry    the queries()/oracle_sql() catalog consumed by
                __spark_entry__.py

Expression-shape rules (enforced catalog-wide by
tests/test_plan_hygiene.py, scanners in tests/plan_scan.py; full
rationale in SURVEY.md §7.5):

1. Never post-filter on a higher-order-function fold's output —
   predicate pushdown clones the fold (and any alias it references)
   into the Filter, Θ(n²) per row. Pre-filter on the cheap row-level
   equivalent instead (operators/multimodal.py:267, dedup.py:623).
2. Never let a single-use scalar alias be substitutable into a lambda
   body — CollapseProject inlines it and HOFs re-evaluate per element.
   Route the scalar through a per-row argument position, e.g.
   ``zip_with(v, array_repeat(norm, size(v)), ...)``
   (functions/vector.py:54).
3. Never reference a length-proportional computed expression inside a
   lambda body — composition copies the tree per reference and HOFs
   re-run it per element (Θ(T²): the shingle builders, 85× at 1k
   tokens). Bind it once per row with ``functions.exprs.bind`` and
   reference the lambda variable (operators/dedup.py shingles).
4. Array REDUCTIONS (array_max/min/contains/join, flatten, set ops)
   and bare HOFs over a row column are folds in everything but name —
   rules 1–3 apply to them identically (the int8-quantize Θ(d²),
   caught by the dim axis of tools/axis_ladder.py). ``bind`` bodies
   are exempt from the scanners: constant-arity
   ``transform(array(v), λ)`` runs once per row — it is the fix, not
   the hazard.
5. Never mix a DISTINCT aggregate with a buffer-heavy aggregate
   (percentile/sketch/collect) in one Aggregate — the distinct
   rewrite builds the heavy partial per (group, distinct-column)
   PAIR. Split into two aggregations and equi-join on the group key
   (operators/approx.py x8_approx_aggs / x8_hll_merge; scanned
   catalog-wide over analyzed plans).

Measurement rule: never drain a query with count() — Catalyst prunes
projection expressions, unreferenced aggregates, and whole LEFT-join
subtrees out of a count plan. Use ``bench.drain`` (forces every
output column; tests/test_drain.py pins its contracts).

Window skew rule: AQE cannot split a Window partition (lag/cumsum
need the whole ordered partition in one task), so a hot key
serializes regardless of cluster size. The chunk-stitch swap-ins —
``operators.windows.sessionize_chunked`` / ``cumsum_chunked`` — are
the certified mitigations (value-identical; SCALE.md round-8 probe).
"""

__version__ = "0.1.0"
