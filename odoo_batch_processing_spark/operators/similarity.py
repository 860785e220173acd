"""Vector similarity search (X4): brute-force and IVF-bucketed ANN.

The reference has nothing remotely like this (its only join is the
positional zip, SURVEY.md §2.2); this is the driver-mandated
embedding-search surface over ``embeddings`` (ArrayType(Float), 64-d).

Two plans, same scoring expression:

* **brute force** — broadcast the (small) query set against every
  candidate row: an embarrassingly parallel scan, exact answer. At
  100 TB this is the per-batch scoring pattern (queries ≪ corpus); the
  scan parallelizes across executors and the only shuffle is the final
  per-query top-K (tiny: K rows per query per partition after the
  window's partial rank pushdown).
* **IVF-bucketed** — a coarse quantizer (here: the sign pattern of the
  leading dimensions; in production: k-means centroid ids stored at
  write time, bucketed/partitioned on disk) restricts scoring to the
  query's cell. Trades recall for a ~2^b reduction in scored pairs —
  the 100 TB scale path, where brute force is a full corpus scan per
  query batch.

Scoring is `functions/vector.cosine` — a sequential JVM fold matching
DuckDB's list_dot_product accumulation order, so the oracle hash
compares exact doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from functools import lru_cache

from odoo_batch_processing_spark.functions.exprs import bind
from odoo_batch_processing_spark.functions.vector import dot, norm, normalized, to_double
from odoo_batch_processing_spark.sources.loader import fan_out, load_table

N_QUERIES = 5  # fixture query set: vec_id < 5
TOP_K = 10


@lru_cache(maxsize=None)
def _unit_cols(
    id_alias: str, out: str, id_col: str, vec_col: str
) -> tuple[F.Column, ...]:
    """The four Column trees :func:`_unit` selects, built once per
    distinct signature (the curation/dedup lru_cache'd-factory
    pattern): the normalize block is three nested
    higher-order-function trees, ~100 py4j round-trips per
    construction, and every x4 query builds it at least twice per
    invocation. Columns are immutable unresolved expressions — safe to
    reuse across DataFrames/queries; single-JVM-gateway assumption as
    documented at curation._gate_columns_cached."""
    return (
        F.col(id_col).alias(id_alias),
        to_double(F.col(vec_col)).alias("__v"),
        norm(F.col("__v")),
        normalized(F.col("__v"), F.col("__n")).alias(out),
    )


def _unit(df: DataFrame, id_alias: str, out: str, id_col: str, vec_col: str) -> DataFrame:
    """Project to (id, unit-normalized double vector). Normalizing once
    per row turns pairwise cosine into a bare dot product — 3× fewer
    folds and O(n) norm work instead of O(n²)."""
    c_id, c_v, c_n, c_u = _unit_cols(id_alias, out, id_col, vec_col)
    return (
        df.select(c_id, c_v)
        .withColumn("__n", c_n)
        .select(id_alias, c_u)
    )


@lru_cache(maxsize=None)
def _unit_cells_cols(id_col: str, vec_col: str) -> tuple[F.Column, ...]:
    """Column trees for :func:`_unit_cells`, cached like
    :func:`_unit_cols` (same rationale, same gateway assumption)."""
    return (
        to_double(F.col(vec_col)).alias("__v"),
        norm(F.col("__v")),
        ivf_bucket(F.col(vec_col)).alias("cell"),
        normalized(F.col("__v"), F.col("__n")).alias("uv"),
    )


def _unit_cells(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, embedding, cell, uv): unit-normalized vectors with the
    sign-bit cell id, RAW embedding retained (probe-cell selection
    reads its leading-dimension signs/magnitudes). Shared by the index
    build and the probe's query side, so the normalize/quantize block
    has one canonical form;
    Catalyst prunes the embedding column wherever a consumer drops it."""
    c_v, c_n, c_cell, c_uv = _unit_cells_cols(id_col, vec_col)
    return (
        df.select(id_col, vec_col, c_v)
        .withColumn("__n", c_n)
        .select(id_col, vec_col, c_cell, c_uv)
    )


def _topk(scored: DataFrame, k: int = TOP_K) -> DataFrame:
    """The shared top-k tail: rank (cos_sim desc, neighbor_id) per
    query — deterministic under score ties."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos_sim")
    )


def ann_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = TOP_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for every query vector.

    queries/candidates carry (id_col, vec_col). Self-matches excluded.
    Deterministic under score ties (secondary order on neighbor id).
    """
    q = _unit(queries, "query_id", "qv", id_col, vec_col)
    c = _unit(candidates, "neighbor_id", "cv", id_col, vec_col)
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_sim", dot(F.col("qv"), F.col("cv")))
    )
    return _topk(scored, k)


def ivf_bucket(vec: F.Column, bits: int = 3) -> F.Column:
    """Coarse quantizer: sign bits of the first ``bits`` dimensions →
    cell id in [0, 2^bits). Stands in for a k-means cell id; at write
    time this would be a partition column so cell probes are partition
    prunes, not scans."""
    cell = F.lit(0)
    for i in range(bits):
        cell = cell + F.when(F.element_at(vec, i + 1) > 0, F.lit(1 << (bits - 1 - i))).otherwise(F.lit(0))
    return cell


def ivf_probe_cells(vec: F.Column, bits: int = 3, nprobe: int = 2) -> F.Column:
    """Multi-probe cell set: the query's own cell plus the cells
    reached by flipping its ``nprobe - 1`` LEAST-CONFIDENT sign bits
    (smallest ``|v_i|`` — the dimensions where the query sits closest
    to the quantizer's decision boundary). This is classic multi-probe
    LSH: a boundary-adjacent query re-scores the one cell its true
    neighbors most plausibly fell into, lifting recall for ~nprobe×
    the scan instead of 2^bits× for brute force.

    Single-bit flips only (``nprobe ≤ bits + 1``); returns a distinct
    array of cell ids, deterministic under float ties (lower dimension
    index wins).
    """
    if not 1 <= nprobe <= bits + 1:
        raise ValueError(f"nprobe must be in [1, {bits + 1}], got {nprobe}")
    cell = ivf_bucket(vec, bits)
    if nprobe == 1:
        return F.array(cell.cast("int"))
    # bit indices 1..bits sorted by |v_i| ascending (ties: lower index)
    idxs = F.sequence(F.lit(1), F.lit(bits))

    def _cmp(a: F.Column, b: F.Column) -> F.Column:
        aa, bb = F.abs(F.element_at(vec, a)), F.abs(F.element_at(vec, b))
        return (
            F.when(aa < bb, F.lit(-1)).when(aa > bb, F.lit(1)).otherwise((a - b).cast("int"))
        )

    flips = F.slice(F.array_sort(idxs, _cmp), 1, nprobe - 1)
    # bit i (1-based, MSB-first) carries weight 2^(bits - i)
    masks = F.array(*[F.lit(1 << (bits - j)) for j in range(1, bits + 1)])
    alt = F.transform(flips, lambda i: cell.bitwiseXOR(F.element_at(masks, i)).cast("int"))
    return F.concat(F.array(cell.cast("int")), alt)


def _q_x4_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(load_table(spark, sf_dir, "embeddings"), spark, "vec_id")
    return ann_topk(emb.filter(F.col("vec_id") < N_QUERIES), emb)


def write_ivf_index(unit_cells: DataFrame, path: str) -> None:
    """Write-time IVF: persist (id, uv) PARTITIONED BY the cell id, so
    each coarse cell is its own directory of parquet files: at 100 TB
    the index is written once and every probe prunes to its cells'
    files instead of scanning the corpus."""
    unit_cells.write.mode("overwrite").partitionBy("cell").parquet(path)


# explicit read-back schema for every standing IVF index: an EMPTY
# corpus writes a partitioned dir with zero data files, and schema
# inference on it raises UNABLE_TO_INFER_SCHEMA — same contract (and
# same fix) as the minhash standing index (dedup.py index_schema)
IVF_INDEX_SCHEMA = "vec_id bigint, uv array<double>, cell int"


def read_ivf_index(spark: SparkSession, path: str) -> DataFrame:
    """Read a `write_ivf_index` artifact back with its declared schema
    so the probe path works on any corpus, including one that filtered
    or ingested down to zero rows."""
    return spark.read.schema(IVF_INDEX_SCHEMA).parquet(path)


def _cached_ivf_index(sf_dir: str, name: str, build) -> str:
    """Build-or-reuse a write-time IVF index, content-keyed on the
    embeddings corpus (``sinks.staged_once`` — the discipline shared
    with the minhash standing index and the streaming staged sources):
    the index is a pure deterministic function of the corpus —
    sign-bit cells are stateless, medoid k-means is hash-checkable —
    so bench reps and sibling queries reuse one build instead of
    re-writing it per invocation."""
    import os

    from odoo_batch_processing_spark.sources.sinks import staged_once

    return staged_once(name, os.path.join(sf_dir, "embeddings.parquet"), build)


def ivf_index_probe_topk(
    spark: SparkSession, sf_dir: str, queries_df: DataFrame, nprobe: int = 2
) -> DataFrame:
    """Probe the standing sign-bit IVF index with an ARBITRARY batch
    of query vectors (``vec_id``, ``embedding``) — the O(batch) probe
    core shared by the batch catalog query and its streaming
    (per-micro-batch) twin, the ANN analogue of
    ``dedup.probe_standing_index``. The index is built once per corpus
    (``_cached_ivf_index``); each call pays only the query batch's
    normalize/quantize plus a broadcast probe join that dynamic
    partition pruning narrows to the probed ``cell=`` directories.

    ``nprobe`` is the probe depth: each query scores its own cell plus
    the ``nprobe − 1`` cells across its least-confident quantizer
    boundaries (:func:`ivf_probe_cells`). The probe set explodes to
    nprobe rows per query BEFORE the broadcast, so the index-side plan
    is the same single equi-join on the cell id at every depth; probe
    cells are distinct, so no (query, neighbor) pair is scored twice
    and the top-k window needs no dedup. Recall per depth against brute
    force: SCALE.md §ANN.

    The corpus-side plan (scan → fan_out → normalize) is constructed
    INSIDE the build closure: on the hot path (index already built —
    every bench rep, every micro-batch of the streaming twin) the
    closure never runs, so the probe pays no corpus plan construction
    and no ``fan_out`` partition probe (a ``df.rdd`` conversion,
    driver-side but ~100 ms per call — measured as the bb18093
    refactor's regression on this row)."""

    def _build(p: str) -> None:
        unit = _unit_cells(
            fan_out(load_table(spark, sf_dir, "embeddings"), spark, "vec_id")
        )
        write_ivf_index(unit.select("vec_id", "cell", "uv"), p)

    path = _cached_ivf_index(sf_dir, "ivf-signbit-index", _build)
    idx = read_ivf_index(spark, path)
    q = _unit_cells(queries_df).select(
        F.col("vec_id").alias("query_id"),
        F.col("uv").alias("qv"),
        F.explode(ivf_probe_cells(F.col("embedding"), nprobe=nprobe)).alias("pcell"),
    )
    scored = (
        idx.join(
            F.broadcast(q),
            (idx["cell"] == F.col("pcell")) & (idx["vec_id"] != F.col("query_id")),
        )
        .withColumn("cos_sim", dot(F.col("qv"), idx["uv"]))
        .withColumnRenamed("vec_id", "neighbor_id")
    )
    return _topk(scored)


def _q_x4_ivf_indexed_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nprobe=2 against the WRITE-TIME partitioned index — the
    composition that actually runs at corpus scale: the exploded probe
    set (query cell + least-confident-boundary cell) joins the
    ``cell``-partitioned index on the partition column, so dynamic
    partition pruning turns the probe set into a runtime
    PartitionFilter and the scan lists exactly the probed ``cell=``
    directories — nprobe× the directories of single-probe, never a
    wider scan. nprobe=2 is the first extra probe, the one with the
    highest marginal recall per scanned cell (SCALE.md §ANN). The
    probe core is :func:`ivf_index_probe_topk`, shared with the
    streaming twin ``s_x4_stream_index_probe``. The oracle scores the
    same two cells by a full scan, so only the physical access path
    differs. No ``fan_out`` on the query side: the filter keeps
    N_QUERIES rows, and widening a 5-row scan costs a partition probe
    plus an exchange for nothing — the heavy side of the probe join is
    the index scan, already split by its ``cell=`` directories."""
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_index_probe_topk(spark, sf_dir, emb.filter(F.col("vec_id") < N_QUERIES))


K_CELLS = 8
KMEANS_ITERS = 2


def kmeans_medoid_cells(
    unit_df: DataFrame,
    k: int = K_CELLS,
    iters: int = KMEANS_ITERS,
    return_centroids: bool = False,
):
    """Iterative coarse-quantizer training as pure DataFrame ops — the
    'real centroids' upgrade over ivf_bucket's sign-bit stand-in.

    Per iteration: (1) assign every vector to its closest centroid
    (argmax dot over the k-row broadcast centroid table — a bounded
    k-row nested-loop join, free at any scale); (2) move each centroid
    to its cell's MEDOID-style representative: the member closest to
    the current centroid (argmax via window, ties by vec_id).

    The update is deliberately a member-pick, not Lloyd's mean: a mean
    of doubles depends on accumulation order, so Spark's tree-reduce
    and DuckDB's sequential scan would drift in the last ulp and the
    oracle hash would be meaningless. Member-pick keeps every centroid
    an EXISTING unit vector — bit-identical across engines — while
    exercising the identical iterate-assign-update dataflow.

    Returns the final assignment: (vec_id, cell, uv) where cell is the
    medoid's vec_id — at write time this becomes a partition column, so
    a query probe prunes to its cell's files instead of scanning.
    """
    cent = unit_df.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cell"), F.col("uv").alias("cv")
    )
    for _ in range(iters):
        scored = unit_df.join(F.broadcast(cent)).withColumn(
            "sim", dot(F.col("uv"), F.col("cv"))
        )
        wa = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), F.col("cell"))
        assign = (
            scored.withColumn("rn", F.row_number().over(wa))
            .filter(F.col("rn") == 1)
            .select("vec_id", "cell", "uv", "sim")
        )
        wc = Window.partitionBy("cell").orderBy(F.col("sim").desc(), F.col("vec_id"))
        cent = (
            assign.withColumn("rn", F.row_number().over(wc))
            .filter(F.col("rn") == 1)
            .select(F.col("vec_id").alias("cell"), F.col("uv").alias("cv"))
        )
    scored = unit_df.join(F.broadcast(cent)).withColumn(
        "sim", dot(F.col("uv"), F.col("cv"))
    )
    wa = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), F.col("cell"))
    final = (
        scored.withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cell", "uv")
    )
    if return_centroids:
        return final, cent
    return final


IVF_TRAINED_NPROBE = 2


def _q_x4_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full trained-IVF deployment shape, end to end: train coarse
    cells (medoid k-means — hash-checkable), write the corpus
    PARTITIONED BY trained cell, rank centroids per query, probe the
    nprobe(=2) best cells, exact top-k inside them. This is what an
    ANN service actually runs at 100 TB: training is a bounded k-row
    iteration, the index write is one shuffle at ingest, and each
    query batch touches nprobe cell directories of the index — the
    corpus is never rescanned. The oracle restates the whole chain
    (unrolled training CTEs + centroid ranking + probe + top-k), so
    train→index→probe is certified as ONE contract, not three pieces.
    """
    import os

    emb = fan_out(load_table(spark, sf_dir, "embeddings"), spark, "vec_id")
    unit = _unit(emb, "vec_id", "uv", "vec_id", "embedding")

    def _build(p):
        # centroids land in an underscore-prefixed subdir, which the
        # partitioned index read skips (Spark's metadata-file
        # convention) — one cached artifact carries the whole trained
        # chain: cells AND the quantizer that produced them
        assign, cent = kmeans_medoid_cells(unit, return_centroids=True)
        write_ivf_index(assign, p)
        cent.write.mode("overwrite").parquet(os.path.join(p, "_centroids"))

    path = _cached_ivf_index(sf_dir, "ivf-trained-index", _build)
    idx = read_ivf_index(spark, path).select(
        "vec_id", F.col("cell").cast("bigint").alias("cell"), "uv"
    )
    cent = spark.read.parquet(os.path.join(path, "_centroids"))
    q = unit.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("uv").alias("qv")
    )
    ranked = q.join(F.broadcast(cent)).withColumn("csim", dot(F.col("qv"), F.col("cv")))
    wq = Window.partitionBy("query_id").orderBy(F.col("csim").desc(), F.col("cell"))
    probes = (
        ranked.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= IVF_TRAINED_NPROBE)
        .select("query_id", "qv", F.col("cell").cast("bigint").alias("pcell"))
    )
    scored = (
        idx.join(
            F.broadcast(probes),
            (idx["cell"] == F.col("pcell")) & (idx["vec_id"] != F.col("query_id")),
        )
        .withColumn("cos_sim", dot(F.col("qv"), idx["uv"]))
        .withColumnRenamed("vec_id", "neighbor_id")
    )
    return _topk(scored)


def _q_x4_kmeans_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-cell summary: population and medoid id per final cell."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"), spark, "vec_id")
    unit = _unit(emb, "vec_id", "uv", "vec_id", "embedding")
    final = kmeans_medoid_cells(unit)
    return final.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    )


def _q_x4_ivf_trained_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the TRAINED IVF chain (medoid k-means cells,
    nprobe=2) against brute-force ground truth — the flagship ANN
    operating point. Measured at sf0.01: recall@10 = 0.94, vs 0.26/
    0.40/0.60 for the sign-bit quantizer at nprobe=1/2/4 (SCALE.md §ANN)
    — data-adapted cells dominate the static sign-bit stand-in at the
    same probe budget, which is exactly why production IVF trains its
    quantizer. This query certifies that number cross-engine (the
    oracle restates train→index→probe→top-k→recall end to end);
    tests/test_similarity_multimodal.py asserts the ≥0.7 floor so a
    training regression fails loudly, not silently."""
    brute = _q_x4_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    tr = _q_x4_ivf_trained_topk(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("__hit")
    )
    return (
        brute.join(tr, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).cast("bigint").alias("n_hits")
        )
        .withColumn("recall", F.col("n_hits").cast("double") / F.lit(TOP_K))
    )


#: symmetric int8 budget: values land in [-127, 127]
INT8_TOP = 127


def quantize_int8(unit_vec: F.Column) -> tuple[F.Column, F.Column]:
    """Per-vector symmetric int8 quantization of a UNIT vector:
    ``scale = 127 / max|u_i|``, ``q_i = clamp(floor(u_i·scale + .5))``
    stored as ``array<tinyint>`` — 8× smaller than the double working
    form and 4× smaller than the float storage form. Returns
    (quantized array, max|u_i|); reconstruction is
    ``u_i ≈ q_i · mx / 127``, so an integer dot product times
    ``mxA·mxB / 127²`` approximates the cosine. All arithmetic is
    floor/least/greatest — reproducible bit-for-bit in the oracle.

    At 100 TB this is the bandwidth lever: scoring reads 1/4 the bytes
    of float32 (fits 4× more corpus in page cache / shuffle), and the
    integer products are exact in doubles, so the only error is the
    quantization itself (recall measured in tests/test_int8_recall).

    ``mx`` is routed through :func:`~odoo_batch_processing_spark.
    functions.exprs.bind` (SURVEY.md §7.5 rule 2): referencing the
    ``array_max(transform(...))`` reduction directly inside the
    quantize lambda embeds a copy that re-evaluates per ELEMENT —
    Θ(d²) per row. The dimension ladder (tools/axis_ladder.py) caught
    exactly this shape: ×2.4 on the d×16 rung pre-fix while every
    other vector stage trended flat-or-down. Array REDUCTIONS
    (array_max/min/...) are the same hazard class as aggregate/reduce
    folds — now scanned catalog-wide by plan_scan.EXPENSIVE_FUNCS."""
    mx = F.array_max(F.transform(unit_vec, F.abs))
    q = bind(
        mx,
        lambda m: F.transform(
            unit_vec,
            lambda x: F.least(
                F.lit(INT8_TOP),
                F.greatest(
                    F.lit(-INT8_TOP),
                    F.floor(x * (F.lit(float(INT8_TOP)) / m) + F.lit(0.5)).cast("int"),
                ),
            ).cast("tinyint"),
        ),
    )
    return q, mx


@lru_cache(maxsize=None)
def _quantized_cols(vec_name: str) -> tuple[F.Column, F.Column]:
    """:func:`quantize_int8` over a named column, built once per
    process (the _unit_cols rationale — the clamp/floor transform
    plus the bound array_max is another ~80 py4j round-trips, and the
    int8 queries build it per invocation)."""
    return quantize_int8(F.col(vec_name))


@lru_cache(maxsize=None)
def _int8_rescored_sim() -> F.Column:
    """The exact int8 re-scoring expression shared by x4_int8_topk and
    x4_rerank_exact stage 1 (cached: two to_double transforms + the
    dot fold per construction)."""
    return (
        dot(to_double(F.col("qa")), to_double(F.col("qb")))
        * (F.col("mxa") * F.col("mxb"))
        / F.lit(float(INT8_TOP * INT8_TOP))
    )


def _q_x4_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute top-k over int8-quantized vectors: the write-time asset is
    the ``(vec_id, array<tinyint>, mx)`` relation; scoring is an exact
    integer dot (cast to double — products ≤ 127² · 64 dims are
    integer-exact) rescaled by the two max-magnitudes."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"), spark, "vec_id")
    unit = _unit(emb, "vec_id", "uv", "vec_id", "embedding")
    qv, mx = _quantized_cols("uv")
    qz = unit.select("vec_id", qv.alias("qvec"), mx.alias("mx"))
    q = qz.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("qvec").alias("qa"),
        F.col("mx").alias("mxa"),
    )
    c = qz.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("qvec").alias("qb"),
        F.col("mx").alias("mxb"),
    )
    scored = c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id")).withColumn(
        "cos_sim",
        _int8_rescored_sim(),
    )
    return _topk(scored)


RERANK_M = 40


def _q_x4_rerank_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieve-then-rerank — the composition every
    production ANN stack runs (generate cheap candidates, re-score the
    shortlist exactly):

    * **generate** — the int8-quantized scan (``quantize_int8``; 1/4
      the bytes of float32) ranks the corpus per query and keeps the
      top ``RERANK_M`` candidates;
    * **refine** — only those M rows fetch their full-precision unit
      vectors (broadcast join on id — point lookups against the float
      column at corpus scale) and re-score with the exact double dot;
      final rank is over the EXACT score.

    The output carries both ranks: ``rank`` (exact) and ``gen_rank``
    (the stage-1 position), so the reordering the refine stage buys is
    visible in the certified result. With M ≫ k the exact top-k is
    recovered whenever stage-1 recall@M holds — the standard
    bandwidth/recall trade (measured: int8 recall@10 is already ~1.0
    on the fixture; M = 4k adds slack for the quantization ties).

    100 TB shape: stage 1 is the same embarrassingly-parallel scan as
    ``x4_int8_topk`` (broadcast query set, partial top-M per partition
    under the window's rank pushdown); stage 2 touches M·|Q| rows —
    independent of corpus size — via a broadcast hash join, no
    shuffle of the corpus."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"), spark, "vec_id")
    unit = _unit(emb, "vec_id", "uv", "vec_id", "embedding")
    qv, mx = _quantized_cols("uv")
    qz = unit.select("vec_id", qv.alias("qvec"), mx.alias("mx"))
    q8 = qz.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("qvec").alias("qa"),
        F.col("mx").alias("mxa"),
    )
    c8 = qz.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("qvec").alias("qb"),
        F.col("mx").alias("mxb"),
    )
    approx = c8.join(
        F.broadcast(q8), F.col("neighbor_id") != F.col("query_id")
    ).withColumn(
        "approx_sim",
        _int8_rescored_sim(),
    )
    wg = Window.partitionBy("query_id").orderBy(
        F.col("approx_sim").desc(), F.col("neighbor_id")
    )
    cands = (
        approx.withColumn("gen_rank", F.row_number().over(wg).cast("bigint"))
        .filter(F.col("gen_rank") <= RERANK_M)
        .select("query_id", "neighbor_id", "gen_rank")
    )
    qfull = unit.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("uv").alias("qv")
    )
    refined = (
        unit.join(F.broadcast(cands), unit["vec_id"] == F.col("neighbor_id"))
        .join(F.broadcast(qfull), "query_id")
        .withColumn("cos_sim", dot(F.col("qv"), F.col("uv")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        refined.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "neighbor_id", "cos_sim", "gen_rank")
    )


QUERIES = {
    "x4_cosine_topk": _q_x4_cosine_topk,
    "x4_kmeans_cells": _q_x4_kmeans_cells,
    "x4_ivf_indexed_multiprobe": _q_x4_ivf_indexed_multiprobe,
    "x4_ivf_trained_topk": _q_x4_ivf_trained_topk,
    "x4_ivf_trained_recall": _q_x4_ivf_trained_recall,
    "x4_int8_topk": _q_x4_int8_topk,
}

# normalize-first, exactly like the Spark plan: unit = v / sqrt(v·v),
# then cosine = unit_a · unit_b. Same operations in the same order →
# bit-identical doubles.
_UNIT = (
    "SELECT vec_id, label,"
    " list_transform(raw, x -> x / sqrt(list_dot_product(raw, raw))) AS uv"
    " FROM (SELECT vec_id, label, embedding::DOUBLE[] AS raw FROM embeddings)"
)

ORACLES = {
    "x4_cosine_topk": f"""
        WITH unit AS ({_UNIT}),
        q AS (
            SELECT vec_id AS query_id, uv AS qv FROM unit WHERE vec_id < {N_QUERIES}
        ), c AS (
            SELECT vec_id AS neighbor_id, uv AS cv FROM unit
        ), scored AS (
            SELECT q.query_id, c.neighbor_id, list_dot_product(q.qv, c.cv) AS cos_sim
            FROM c JOIN q ON c.neighbor_id <> q.query_id
        )
        SELECT query_id, rank, neighbor_id, cos_sim FROM (
            SELECT query_id, neighbor_id, cos_sim,
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank
            FROM scored
        ) WHERE rank <= {TOP_K}
    """,
    # nprobe=2: own cell + the cell across the least-|v| sign boundary
    # (first 3 dims; list_position takes the FIRST min — same low-index
    # tie-break as the Spark comparator)
    "x4_ivf_indexed_multiprobe": f"""
        WITH cells AS (
            SELECT vec_id, embedding,
                   list_transform(raw, x -> x / sqrt(list_dot_product(raw, raw))) AS v,
                   (CASE WHEN embedding[1] > 0 THEN 4 ELSE 0 END
                  + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END
                  + CASE WHEN embedding[3] > 0 THEN 1 ELSE 0 END) AS cell
            FROM (SELECT vec_id, embedding, embedding::DOUBLE[] AS raw FROM embeddings)
        ), q AS (
            SELECT vec_id AS query_id, v AS qv, cell AS qcell,
                   xor(cell, 1 << (3 - list_position(
                       list_transform(embedding[1:3], x -> abs(x)),
                       list_min(list_transform(embedding[1:3], x -> abs(x)))))) AS qcell2
            FROM cells WHERE vec_id < {N_QUERIES}
        ), c AS (
            SELECT vec_id AS neighbor_id, v AS cv, cell AS ccell FROM cells
        ), scored AS (
            SELECT q.query_id, c.neighbor_id, list_dot_product(q.qv, c.cv) AS cos_sim
            FROM c JOIN q
              ON (c.ccell = q.qcell OR c.ccell = q.qcell2)
             AND c.neighbor_id <> q.query_id
        )
        SELECT query_id, rank, neighbor_id, cos_sim FROM (
            SELECT query_id, neighbor_id, cos_sim,
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank
            FROM scored
        ) WHERE rank <= {TOP_K}
    """,
}


def _kmeans_cte_prefix(k: int = K_CELLS, iters: int = KMEANS_ITERS) -> str:
    """Unroll the assign→medoid-update loop into chained CTEs — the SQL
    restatement of kmeans_medoid_cells, iteration for iteration,
    ending with ``final`` (the assignment) and ``cent{iters}`` (the
    trained centroid table) available to the caller's SELECT."""
    parts = [f"WITH unit AS ({_UNIT}),", f"cent0 AS (SELECT vec_id AS cell, uv AS cv FROM unit WHERE vec_id < {k})"]
    for i in range(iters):
        parts.append(
            f""", a{i} AS (
            SELECT vec_id, uv, cell, sim FROM (
                SELECT u.vec_id, u.uv, c.cell,
                       list_dot_product(u.uv, c.cv) AS sim,
                       ROW_NUMBER() OVER (PARTITION BY u.vec_id
                            ORDER BY list_dot_product(u.uv, c.cv) DESC, c.cell) AS rn
                FROM unit u CROSS JOIN cent{i} c
            ) WHERE rn = 1
        ), cent{i + 1} AS (
            SELECT vec_id AS cell, uv AS cv FROM (
                SELECT vec_id, uv,
                       ROW_NUMBER() OVER (PARTITION BY cell ORDER BY sim DESC, vec_id) AS rn
                FROM a{i}
            ) WHERE rn = 1
        )"""
        )
    parts.append(
        f""", final AS (
            SELECT vec_id, cell FROM (
                SELECT u.vec_id, c.cell,
                       ROW_NUMBER() OVER (PARTITION BY u.vec_id
                            ORDER BY list_dot_product(u.uv, c.cv) DESC, c.cell) AS rn
                FROM unit u CROSS JOIN cent{iters} c
            ) WHERE rn = 1
        )"""
    )
    return "\n".join(parts)


def _kmeans_oracle_sql(k: int = K_CELLS, iters: int = KMEANS_ITERS) -> str:
    return (
        _kmeans_cte_prefix(k, iters)
        + "\nSELECT cell, CAST(COUNT(1) AS BIGINT) AS n_members FROM final GROUP BY cell"
    )


def _trained_topk_oracle_sql(
    k: int = K_CELLS, iters: int = KMEANS_ITERS, nprobe: int = IVF_TRAINED_NPROBE
) -> str:
    """x4_ivf_trained_topk restated end to end: training CTEs, then
    centroid ranking per query, probe of the nprobe best cells, exact
    top-k inside them."""
    return (
        _kmeans_cte_prefix(k, iters)
        + f""", q AS (
            SELECT vec_id AS query_id, uv AS qv FROM unit WHERE vec_id < {N_QUERIES}
        ), probes AS (
            SELECT query_id, qv, cell FROM (
                SELECT q.query_id, q.qv, c.cell,
                       ROW_NUMBER() OVER (PARTITION BY q.query_id
                            ORDER BY list_dot_product(q.qv, c.cv) DESC, c.cell) AS rn
                FROM q CROSS JOIN cent{iters} c
            ) WHERE rn <= {nprobe}
        ), scored AS (
            SELECT p.query_id, f.vec_id AS neighbor_id,
                   list_dot_product(p.qv, u.uv) AS cos_sim
            FROM probes p
            JOIN final f ON f.cell = p.cell AND f.vec_id <> p.query_id
            JOIN unit u ON u.vec_id = f.vec_id
        )
        SELECT query_id, rank, neighbor_id, cos_sim FROM (
            SELECT query_id, neighbor_id, cos_sim,
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank
            FROM scored
        ) WHERE rank <= {TOP_K}"""
    )


ORACLES |= {
    # same unit-normalize → quantize → integer-dot → rescale chain,
    # operation for operation: floor/least/greatest/int products are
    # engine-exact, and the one float multiply-divide is ordered
    # identically, so the approximate scores hash-match exactly
    "x4_int8_topk": f"""
        WITH unit AS ({_UNIT}),
        qz AS (
            SELECT vec_id,
                   list_transform(uv, x -> CAST(LEAST(127, GREATEST(-127,
                       CAST(FLOOR(x * (127.0 / mx) + 0.5) AS INTEGER))) AS DOUBLE)) AS qvec,
                   mx
            FROM (
                SELECT vec_id, uv,
                       list_aggregate(list_transform(uv, x -> abs(x)), 'max') AS mx
                FROM unit
            )
        ),
        q AS (
            SELECT vec_id AS query_id, qvec AS qa, mx AS mxa FROM qz
            WHERE vec_id < {N_QUERIES}
        ), c AS (
            SELECT vec_id AS neighbor_id, qvec AS qb, mx AS mxb FROM qz
        ), scored AS (
            SELECT q.query_id, c.neighbor_id,
                   list_dot_product(q.qa, c.qb) * (q.mxa * c.mxb) / 16129.0 AS cos_sim
            FROM c JOIN q ON c.neighbor_id <> q.query_id
        )
        SELECT query_id, rank, neighbor_id, cos_sim FROM (
            SELECT query_id, neighbor_id, cos_sim,
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank
            FROM scored
        ) WHERE rank <= {TOP_K}
    """,
    "x4_kmeans_cells": _kmeans_oracle_sql(),
    "x4_ivf_trained_topk": _trained_topk_oracle_sql(),
}

# DuckDB allows a CTE inside a parenthesized subquery, so the two
# registered top-k oracles nest verbatim
ORACLES["x4_ivf_trained_recall"] = f"""
        WITH brute AS (SELECT * FROM ({ORACLES["x4_cosine_topk"]})),
             tr AS (SELECT * FROM ({_trained_topk_oracle_sql()}))
        SELECT b.query_id,
               CAST(SUM(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_hits,
               CAST(SUM(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                   / {TOP_K} AS recall
        FROM brute b
        LEFT JOIN tr t
          ON b.query_id = t.query_id AND b.neighbor_id = t.neighbor_id
        GROUP BY b.query_id
    """

QUERIES["x4_rerank_exact"] = _q_x4_rerank_exact

# stage 1 verbatim from the x4_int8_topk chain at rank ≤ M, then the
# shortlist joins back to the full-precision unit vectors for the
# exact re-score — same operations in the same order as the Spark plan
ORACLES["x4_rerank_exact"] = f"""
    WITH unit AS ({_UNIT}),
    qz AS (
        SELECT vec_id,
               list_transform(uv, x -> CAST(LEAST(127, GREATEST(-127,
                   CAST(FLOOR(x * (127.0 / mx) + 0.5) AS INTEGER))) AS DOUBLE)) AS qvec,
               mx
        FROM (
            SELECT vec_id, uv,
                   list_aggregate(list_transform(uv, x -> abs(x)), 'max') AS mx
            FROM unit
        )
    ),
    q8 AS (
        SELECT vec_id AS query_id, qvec AS qa, mx AS mxa FROM qz
        WHERE vec_id < {N_QUERIES}
    ), c8 AS (
        SELECT vec_id AS neighbor_id, qvec AS qb, mx AS mxb FROM qz
    ), approx AS (
        SELECT q8.query_id, c8.neighbor_id,
               list_dot_product(q8.qa, c8.qb) * (q8.mxa * c8.mxb) / 16129.0 AS approx_sim
        FROM c8 JOIN q8 ON c8.neighbor_id <> q8.query_id
    ), cands AS (
        SELECT query_id, neighbor_id, gen_rank FROM (
            SELECT query_id, neighbor_id,
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY approx_sim DESC, neighbor_id) AS BIGINT) AS gen_rank
            FROM approx
        ) WHERE gen_rank <= {RERANK_M}
    ), refined AS (
        SELECT c.query_id, c.neighbor_id, c.gen_rank,
               list_dot_product(qu.uv, nu.uv) AS cos_sim
        FROM cands c
        JOIN unit nu ON nu.vec_id = c.neighbor_id
        JOIN unit qu ON qu.vec_id = c.query_id
    )
    SELECT query_id, rank, neighbor_id, cos_sim, gen_rank FROM (
        SELECT query_id, neighbor_id, cos_sim, gen_rank,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank
        FROM refined
    ) WHERE rank <= {TOP_K}
"""
