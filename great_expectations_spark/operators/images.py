"""Image-payload expectations — Arrow-vectorized pandas UDF kernels.

NEW surface vs the reference (it is payload-agnostic — SURVEY.md §2.B.7):
decodability, width/height/format consistency, and phash recomputation over a
``bytes`` binary column, per BASELINE.json's input_hint. The kernels follow
the reference's map-metric machinery (condition column → unexpected_count /
unexpected_values) but the condition comes from ONE Arrow-batched pandas UDF
(`decode_meta_udf`) that decodes each image once and emits a struct — never
per-row Python row-at-a-time UDFs (the pattern the reference itself warns
about, sparkdf_execution_engine.py:78-82).

Usage:
    df2 = enrich_images(df)           # adds the `_decoded` struct column
    suite.add("expect_image_bytes_to_be_decodable", column="bytes")
    suite.add("expect_image_dims_to_match_metadata", ...)
    engine.validate(df2, suite, ...)
or one-shot: validate_images(df, suite, ...).

Scale notes:
- `bytes` is only projected when an image expectation is in the suite —
  aggregate-only suites never read the binary column (column pruning is the
  dominant cost lever at 10^12 images).
- phash comparison is JVM-side: ``bit_count(phash ^ decoded.phash)`` —
  native xor + popcount, no Python.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from great_expectations_spark.functions.image_codec import decode_image, phash64
from great_expectations_spark.operators.conditions import (
    MapCondition,
    register_map_expectation,
)

DECODED_COL = "_decoded"

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("ok", T.BooleanType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("phash", T.LongType()),
        T.StructField("err", T.StringType()),
    ]
)


@F.pandas_udf(DECODED_SCHEMA)
def decode_meta_udf(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
    """Decode a batch of image payloads → (ok, w, h, fmt, phash, err).

    Iterator form keeps Arrow batches streaming (no whole-partition
    materialization); the numpy work inside is per-image but vectorized per
    pixel — the decode itself is the kernel, not row-dispatch overhead."""
    for series in batches:
        out = {"ok": [], "w": [], "h": [], "fmt": [], "phash": [], "err": []}
        for data in series:
            # compute the FULL row before appending to any list: an
            # exception mid-row (e.g. a real codec's post-decode hash)
            # must produce the error row, never misaligned columns
            try:
                fmt, w, h, pixels = decode_image(bytes(data) if data is not None else None)
                row = (True, w, h, fmt, phash64(pixels), None)
            except Exception as e:
                row = (False, None, None, None, None, str(e))
            for col, v in zip(("ok", "w", "h", "fmt", "phash", "err"), row):
                out[col].append(v)
        # nullable Int64/Int32, NOT bare lists: a None in the batch would
        # coerce to float64 and silently drop low bits of 64-bit phashes
        yield pd.DataFrame(
            {
                "ok": pd.Series(out["ok"], dtype="boolean"),
                "w": pd.Series(out["w"], dtype="Int32"),
                "h": pd.Series(out["h"], dtype="Int32"),
                "fmt": pd.Series(out["fmt"], dtype="object"),
                "phash": pd.Series(out["phash"], dtype="Int64"),
                "err": pd.Series(out["err"], dtype="object"),
            }
        )


def enrich_images(df: DataFrame, bytes_col: str = "bytes") -> DataFrame:
    """Add the `_decoded` struct column (one decode per image, reused by every
    image expectation in the suite). The decode is the CPU-heavy stage: an
    under-partitioned input (e.g. a single-file parquet) would run it on one
    core, so rebalance first — a no-op on well-partitioned tables."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target)
    return df.withColumn(DECODED_COL, decode_meta_udf(F.col(bytes_col)))


def _decoded(kw: dict) -> Column:
    return F.col(kw.get("decoded_col", DECODED_COL))


def _build_decodable(kw: dict) -> MapCondition:
    bytes_col = F.col(kw.get("column", "bytes"))
    d = _decoded(kw)
    return MapCondition(
        expected=d["ok"],
        considered=bytes_col.isNotNull(),
        value_expr=F.concat(F.lit("len="), F.length(bytes_col).cast("string"), F.lit(" err="), F.coalesce(d["err"], F.lit(""))),
        columns=[kw.get("column", "bytes")],
        cast_column=None,
    )


def _build_dims_match(kw: dict) -> MapCondition:
    d = _decoded(kw)
    w_col = F.col(kw.get("w_column", "w"))
    h_col = F.col(kw.get("h_column", "h"))
    expected = d["ok"] & (d["w"] == w_col) & (d["h"] == h_col)
    return MapCondition(
        expected=expected,
        considered=w_col.isNotNull() & h_col.isNotNull(),
        value_expr=F.to_json(
            F.struct(
                w_col.alias("w"),
                h_col.alias("h"),
                d["w"].alias("decoded_w"),
                d["h"].alias("decoded_h"),
            )
        ),
        columns=[kw.get("w_column", "w"), kw.get("h_column", "h")],
        cast_column=None,
    )


def _build_fmt_match(kw: dict) -> MapCondition:
    d = _decoded(kw)
    fmt_col = F.col(kw.get("fmt_column", "fmt"))
    return MapCondition(
        expected=d["ok"] & (d["fmt"] == fmt_col),
        considered=fmt_col.isNotNull(),
        value_expr=F.to_json(
            F.struct(fmt_col.alias("fmt"), d["fmt"].alias("decoded_fmt"))
        ),
        columns=[kw.get("fmt_column", "fmt")],
        cast_column=None,
    )


def _build_phash_match(kw: dict) -> MapCondition:
    d = _decoded(kw)
    phash_col = F.col(kw.get("phash_column", "phash"))
    max_distance = int(kw.get("max_hamming_distance", 0))
    # JVM-side popcount of xor — no Python in the comparison
    dist = F.bit_count(phash_col.bitwiseXOR(d["phash"]))
    return MapCondition(
        expected=d["ok"] & (dist <= max_distance),
        considered=phash_col.isNotNull(),
        value_expr=F.to_json(
            F.struct(
                phash_col.alias("phash"),
                d["phash"].alias("decoded_phash"),
                dist.alias("hamming"),
            )
        ),
        columns=[kw.get("phash_column", "phash")],
        cast_column=None,
    )


IMAGE_EXPECTATION_TYPES = (
    "expect_image_bytes_to_be_decodable",
    "expect_image_dims_to_match_metadata",
    "expect_image_fmt_to_match_metadata",
    "expect_image_phash_to_match",
)

register_map_expectation("expect_image_bytes_to_be_decodable", _build_decodable)
register_map_expectation("expect_image_dims_to_match_metadata", _build_dims_match)
register_map_expectation("expect_image_fmt_to_match_metadata", _build_fmt_match)
register_map_expectation("expect_image_phash_to_match", _build_phash_match)


def validate_images(df: DataFrame, suite, bytes_col: str = "bytes", **validate_kwargs):
    """One-shot: enrich with the decode struct, then validate."""
    from great_expectations_spark.engine import validate

    needs_decode = any(
        c.expectation_type in IMAGE_EXPECTATION_TYPES for c in suite.expectations
    )
    if needs_decode:
        df = enrich_images(df, bytes_col=bytes_col)
    return validate(df, suite, **validate_kwargs)


# ---- phash near-duplicate detection --------------------------------------


def image_near_duplicate_pairs(
    df: DataFrame,
    id_col: str = "image_id",
    phash_col: str = "phash",
    max_hamming: int = 8,
    chunks: int | None = None,
) -> DataFrame:
    """Image near-dup pairs by perceptual-hash Hamming distance — the image
    counterpart of text SimHash dedup (operators/dedup.py): 64-bit phash →
    chunk banding with chunks > max_hamming slices (pigeonhole-complete:
    every pair within max_hamming shares at least one untouched chunk) →
    same-chunk self-join → exact bit_count verify. With the default
    chunks=None the banding is k-of-c COMBINATION banding from
    dedup._hamming_band_exprs (k=2 for max_hamming >= 5 — c = max_hamming+2
    chunks, one band per chunk pair), not single-chunk slices; passing an
    explicit chunks <= max_hamming raises rather than silently losing
    recall. No decode needed — works off the stored phash column, so the
    bytes column is never read."""
    from great_expectations_spark.operators.dedup import simhash_near_pairs

    sigs = df.select(F.col(id_col).alias("doc_id"), F.col(phash_col).alias("simhash"))
    pairs = simhash_near_pairs(sigs, max_hamming=max_hamming, chunks=chunks)
    return pairs.select(
        F.col("a").alias("image_a"), F.col("b").alias("image_b"), "hamming"
    )


def image_benchmark_contamination(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "image_id",
    phash_col: str = "phash",
    bench_id_col: str = "image_id",
    bench_phash_col: str = "phash",
    max_hamming: int = 8,
) -> DataFrame:
    """Corpus images that perceptually near-match an evaluation image set
    (phash Hamming ≤ max_hamming) — image decontamination, the payload
    counterpart of text benchmark_contamination (operators/dedup.py).
    Returns (image_id, benchmark_id, hamming) with the closest benchmark
    match per contaminated image; anti-join the result against the corpus
    for the clean set. Works off stored phash columns — bytes never read."""
    from great_expectations_spark.operators.dedup import simhash_cross_matches

    sigs = df.select(F.col(id_col).alias("doc_id"), F.col(phash_col).alias("simhash"))
    bsigs = benchmark.select(
        F.col(bench_id_col).alias("doc_id"), F.col(bench_phash_col).alias("simhash")
    )
    m = simhash_cross_matches(sigs, bsigs, max_hamming=max_hamming)
    return m.select(
        F.col("doc_id").alias(id_col),
        F.col("matched_id").alias("benchmark_id"),
        "hamming",
    )
