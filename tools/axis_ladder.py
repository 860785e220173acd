#!/usr/bin/env python
"""Data-axis scale ladders: certify that a query family is linear in
the size of ONE item (vector, document, JSON blob), not just in item
count.

A corpus-count ladder replicates items, so per-item cost is a
constant it cannot see. Each axis here holds total volume fixed
(count·size ≈ const) and raises size-per-item by the axis multipliers
while the item count falls by the same factor. A pipeline linear in
volume stays ~flat across the rungs; a per-item quadratic rises
~linearly in the multiplier.

* ``dim`` — floats per embedding, ×1/4/16/64 over every d-consuming
  vector path. It runs a rung deeper than the others because vector
  stages carry higher fixed floors: the pre-fix int8 Θ(d²) measured
  only ×2.4 at d×16 and ×8.8 at d×64 (SCALE.md round 8).
* ``doclen`` — tokens per document, ×1/4/16 over every family that
  tokenizes or shingles per document, plus the multimodal payload
  stages (payload = utf-8(text), so this is also the payload-bytes
  axis).
* ``jsonsize`` — bytes per props blob, ×1/4/16 over the x6 JSON and
  VARIANT paths.

Protocol, every axis: build the rung's corpus, run every stage once
to warm it (codegen, scan cache), then time every stage REPS times,
each after a release of the session's pins and cache, and record the
minimum: one neighbour-load spike on a shared host must not read as
a superlinear stage. Flags come from
tools/ladder_flags.py: the absolute top-rung rule (> FLAG_RATIO) and
per-rung family divergence, with each stage's output rows feeding the
output-bound exemption. A flagged stage is re-timed on every rung and
stays flagged only if the re-timed rungs flag again (``payload``): a
slow rep-set, not the code, has flipped a doclen stage over its line
before.

    python tools/axis_ladder.py [dim|doclen|jsonsize ...] [--cpus N]

Runs every axis when none is named. Writes SCALE_<AXIS>.json per
axis; exit 1 if any stage is flagged.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from dataclasses import dataclass
from typing import Callable

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.ladder_flags import flagged_stages  # noqa: E402

#: loose on purpose: larger items legitimately shift work between
#: stages; the quadratic signature these ladders hunt is ≳10×
FLAG_RATIO = 4.0
#: timed runs per stage and rung; the artifact records the fastest
REPS = 3


def _dim_corpus(spark, out: str, n_vecs: int, dim: int) -> None:
    """n_vecs embeddings of exactly ``dim`` floats in (-2, 2), signs
    balanced so the sign-bit cells populate evenly, 10 labels — the
    fixture schema (vec_id BIGINT, embedding ARRAY<FLOAT>, label INT)."""
    from pyspark.sql import functions as F

    emb = spark.range(n_vecs).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda i: (
                (F.xxhash64(F.col("id") * 131 + i) % 2001) / F.lit(1000.0)
            ).cast("float"),
        ).alias("embedding"),
        (F.col("id") % 10).cast("int").alias("label"),
    )
    emb.repartition(8).write.mode("overwrite").parquet(
        os.path.join(out, "embeddings.parquet")
    )


def _doclen_corpus(spark, out: str, n_docs: int, n_tokens: int) -> None:
    """n_docs documents of exactly n_tokens tokens from a shared
    500-word vocabulary, so shingles collide across documents and the
    df/pair paths run as on real text. 8 files: an 8→64 re-layout
    speeds the many-doc rung 0 ~25% (SCALE.md), which alone shifts
    every divergence ratio."""
    from pyspark.sql import functions as F

    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.lit(n_tokens)),
                lambda i: F.concat(
                    F.lit("w"),
                    ((F.xxhash64(F.col("id") * 7 + i) % 500) + 500).cast("string"),
                ),
            ),
            " ",
        ).alias("text"),
    ).select(
        "doc_id",
        "text",
        F.lit("en").alias("lang"),
        F.lit("synthetic").alias("source"),
        F.length("text").alias("n_chars"),
    )
    docs.repartition(8).write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet")
    )


def _jsonsize_corpus(spark, out: str, n_events: int, props_bytes: int) -> None:
    """n_events events whose props blob is ~props_bytes of JSON: the
    fixture's ``{"k": <int>}`` key FIRST (typed extraction finds real
    values) plus a deterministic pad. All six fixture columns are
    present so any x6 query's projection resolves."""
    from pyspark.sql import functions as F

    pad_len = max(0, props_bytes - 24)  # overhead: {"k": NN, "pad": ""}
    ev = spark.range(n_events).select(
        F.col("id").alias("event_id"),
        F.timestamp_seconds(
            F.lit(1704067200) + F.pmod(F.xxhash64(F.col("id")), F.lit(86400 * 30))
        ).alias("ts"),
        F.pmod(F.xxhash64(F.col("id") * 3), F.lit(1000)).alias("user_id"),
        F.element_at(
            F.array(F.lit("click"), F.lit("view"), F.lit("buy")),
            (F.pmod(F.col("id"), F.lit(3)) + 1).cast("int"),
        ).alias("event_type"),
        (F.pmod(F.xxhash64(F.col("id") * 7), F.lit(10000)) / 100.0).alias("value"),
        F.concat(
            F.lit('{"k": '),
            F.pmod(F.xxhash64(F.col("id") * 11), F.lit(100)).cast("string"),
            F.lit(', "pad": "'),
            F.repeat(F.lit("x"), pad_len),
            F.lit('"}'),
        ).alias("props"),
    )
    ev.repartition(16).write.mode("overwrite").parquet(
        os.path.join(out, "events.parquet")
    )


@dataclass(frozen=True)
class Axis:
    """One ladder. Rung ``m`` holds ``base_count // m`` items of
    ``base_size * m``; ``keys`` names (base count, base size, rung
    count, rung size) as the artifact records them."""

    name: str
    flagged_key: str
    keys: tuple[str, str, str, str]
    base_count: int
    base_size: int
    mults: tuple[int, ...]
    stages: tuple[str, ...]
    build: Callable[[object, str, int, int], None]

    @property
    def artifact(self) -> str:
        return f"SCALE_{self.name.upper()}.json"


AXES: dict[str, Axis] = {
    a.name: a
    for a in (
        Axis(
            name="dim",
            flagged_key="flagged_dim_superlinear",
            keys=("base_vecs", "base_dim", "n_vecs", "dim"),
            base_count=40000,
            base_size=32,
            mults=(1, 4, 16, 64),
            stages=(
                "x4_cosine_topk",  # brute force: normalize + broadcast pair dots
                "x4_ivf_indexed_multiprobe",  # probe-cell selection (|v_i| sort) + in-cell dots
                "x4_int8_topk",  # quantize + integer dots
                "x4_kmeans_cells",  # medoid training loop (k broadcast dots/iter)
                "x3_embedding_neardup",  # in-cell all-pairs nearest neighbor
            ),
            build=_dim_corpus,
        ),
        Axis(
            name="doclen",
            flagged_key="flagged_length_superlinear",
            keys=("base_docs", "base_tokens", "n_docs", "tokens_per_doc"),
            base_count=4000,
            base_size=64,
            mults=(1, 4, 16),
            stages=(
                "x3_ngram_jaccard",  # dedup.shingles (width 3)
                "x3_minhash_lsh",  # shingles -> minhash signatures
                "x3_simhash",  # token-fold simhash
                "x5_doc_sim_cosine",  # text._trigrams inverted index
                "x5_gopher_repetition",  # _bigrams + token stats
                "x5_chunk_dedup_frac",  # chunk builder (width 10)
                "x9_curation_pipeline",  # quality gates: shingles(text, 5) + folds
                "x5_text_features",  # per-row token features (control: no shingles)
                "x5_bigram_surprisal",  # tokens-1 bigrams per doc: map-side arrays_zip
                "mm_neardup",  # hex-shingle simhash over payload
                "mm_decode_features",  # Arrow-batched numpy decode per payload
                "mm_frame_sample",  # fixed-size frame split (substring per frame)
            ),
            build=_doclen_corpus,
        ),
        Axis(
            name="jsonsize",
            flagged_key="flagged_size_superlinear",
            keys=("base_events", "base_bytes", "n_events", "props_bytes"),
            base_count=200_000,
            base_size=64,
            mults=(1, 4, 16),
            stages=(
                "x6_json_extract",  # from_json(schema) + get_json_object twin
                "x6_json_grouped",  # parse pushed into the scan projection, then agg
                "x6_null_safe_eq",  # get_json_object present + missing paths
                "x6_variant_shred",  # parse_json once -> typed variant_get paths
            ),
            build=_jsonsize_corpus,
        ),
    )
}


def _time_stages(spark, queries, stages, corpus) -> dict:
    """``{stage: {"sec", "rows"}}`` for one rung: each stage timed REPS
    times, each after a release of the session's pins and cache, and
    the fastest recorded."""
    from bench import drain
    from odoo_batch_processing_spark.session import release_materialized

    out = {}
    for stage in stages:
        times = []
        for _ in range(REPS):
            release_materialized()
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            rows = drain(queries[stage](spark, corpus))
            times.append(time.perf_counter() - t0)
        out[stage] = {"sec": round(min(times), 2), "rows": rows}
    return out


def run_axis(spark, axis: Axis) -> tuple[list[dict], Callable[[list[str]], list[dict]]]:
    """Every rung of one axis: build, warm, time (min of REPS). One
    result row per rung: ``{"mult", <count key>, <size key>,
    "stages": {stage: {"sec", "rows"}}}``. Also returns ``retime``,
    which times the named stages once more on every rung's corpus and
    returns rows of the same shape, holding only those stages."""
    from bench import drain
    from odoo_batch_processing_spark.registry import all_queries
    from odoo_batch_processing_spark.sources.sinks import scratch_dir

    queries = all_queries(extended=True)
    results, corpora = [], []
    for mult in axis.mults:
        count, size = axis.base_count // mult, axis.base_size * mult
        corpus = scratch_dir(f"{axis.name}-{mult}x")
        axis.build(spark, corpus, count, size)
        corpora.append(corpus)
        for stage in axis.stages:
            drain(queries[stage](spark, corpus))
        row = {"mult": mult, axis.keys[2]: count, axis.keys[3]: size}
        row["stages"] = _time_stages(spark, queries, axis.stages, corpus)
        results.append(row)
        print(
            f"[{axis.name} x{mult}: {count} items of {size}] "
            + "  ".join(f"{s}={v['sec']:.1f}s" for s, v in row["stages"].items()),
            file=sys.stderr,
        )

    def retime(stages: list[str]) -> list[dict]:
        return [
            {"mult": row["mult"], "stages": _time_stages(spark, queries, stages, corpus)}
            for row, corpus in zip(results, corpora)
        ]

    return results, retime


def _flags(results: list[dict]) -> tuple[list[str], dict]:
    """Both ladder rules over result rows, with every stage's output
    rows offered to the exemption."""
    stages = list(results[0]["stages"])
    return flagged_stages(
        {s: [r["stages"][s]["sec"] for r in results] for s in stages},
        FLAG_RATIO,
        stage_rows={s: [r["stages"][s]["rows"] for r in results] for s in stages},
    )


def payload(
    axis: Axis,
    results: list[dict],
    retime: Callable[[list[str]], list[dict]] | None = None,
) -> dict:
    """The artifact for one axis run: flags from both ladder rules.

    Noise rule: one slow rep-set on a shared host can flag a healthy
    stage. When the first pass flags stages and ``retime`` is given,
    those stages are timed once more on every rung; a stage stays
    flagged only if the same rules flag it again with its re-timed
    seconds in place of the first (the rest of the family as timed).
    The artifact keeps both passes: ``divergence`` is the first's,
    ``retime`` the second's (null when nothing flagged)."""
    flagged, divergence = _flags(results)
    repeat = None
    if flagged and retime is not None:
        again = retime(flagged)
        merged = [
            {**row, "stages": {**row["stages"], **rerun["stages"]}}
            for row, rerun in zip(results, again)
        ]
        again_flagged, again_div = _flags(merged)
        repeat = {
            "stages": flagged,
            "flagged": [s for s in flagged if s in again_flagged],
            "divergence": {s: again_div[s] for s in flagged},
            "results": again,
        }
        flagged = repeat["flagged"]
    return {
        "metric": f"scale_{axis.name}",
        axis.keys[0]: axis.base_count,
        axis.keys[1]: axis.base_size,
        "mults": list(axis.mults),
        "flag_ratio": FLAG_RATIO,
        axis.flagged_key: flagged,
        "divergence": divergence,
        "retime": repeat,
        "results": results,
    }


def main() -> int:
    parser = argparse.ArgumentParser()
    parser.add_argument(
        "axes", nargs="*", help=f"any of {', '.join(AXES)}; default all"
    )
    parser.add_argument(
        "--cpus", type=int, help="default: SPARK_GRAFT_CPUS, else the host's core count"
    )
    args = parser.parse_args()
    unknown = set(args.axes) - set(AXES)
    if unknown:
        parser.error(f"unknown axis: {', '.join(sorted(unknown))}")

    from odoo_batch_processing_spark.session import get_spark

    spark = get_spark("axis-ladder", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    any_flagged = False
    for name in args.axes or AXES:
        axis = AXES[name]
        t0 = time.perf_counter()
        body = payload(axis, *run_axis(spark, axis))
        flagged = body[axis.flagged_key]
        any_flagged = any_flagged or bool(flagged)
        for stage, div in body["divergence"].items():
            dr = div["divergent_rungs"]
            print(
                f"{stage:24s} " + "  ".join(f"{r:6.2f}" for r in div["ratios"])
                + (f"  DIVERGENT@{dr}" if dr else ""),
                file=sys.stderr,
            )
        if body["retime"]:
            print(
                f"re-timed {body['retime']['stages']}: flagged again {flagged}",
                file=sys.stderr,
            )
        print(
            f"{name}: {time.perf_counter() - t0:.0f} s, flagged {flagged}",
            file=sys.stderr,
        )
        line = json.dumps(body, separators=(",", ":"))
        with open(os.path.join(REPO, axis.artifact), "w") as fh:
            fh.write(line + "\n")
        print(line)
    return 1 if any_flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())
