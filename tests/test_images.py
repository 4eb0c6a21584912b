"""Image-payload kernels: codec invariants (PSNR ≥ 40 dB for lossy, exact
caption equality vs ref), expectations catching exactly the injected
violations, per-partition (fmt) verdicts over the skewed table."""

import numpy as np
import pytest

from great_expectations_spark import ExpectationSuite
from pyspark.sql import functions as F

from great_expectations_spark.operators.images import (
    enrich_images,
    image_benchmark_contamination,
    validate_images,
)
from great_expectations_spark.functions.image_codec import (
    CodecError,
    decode_image,
    encode_image,
    hamming64,
    phash64,
)
from great_expectations_spark.testing.images import (
    generate_images,
    images_df,
    psnr,
)

N = 400


@pytest.fixture(scope="module")
def fixture(spark):
    df, ref, truth = images_df(spark, n=N, seed=42)
    return df, ref, truth


# ---- codec invariants (pure numpy) --------------------------------------


def test_codec_roundtrip_lossless():
    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, size=(12, 12), dtype=np.uint8)
    fmt, w, h, decoded = decode_image(encode_image(px, "png"))
    assert (fmt, w, h) == ("png", 12, 12)
    assert np.array_equal(px, decoded)


@pytest.mark.parametrize("fmt", ["jpeg", "webp"])
def test_lossy_psnr_at_least_40db(fmt):
    """The BASELINE.json per-row invariant: decoded-pixel PSNR ≥ 40 dB."""
    rng = np.random.default_rng(11)
    for _ in range(10):
        px = rng.integers(0, 256, size=(16, 16), dtype=np.uint8)
        _, _, _, decoded = decode_image(encode_image(px, fmt))
        assert psnr(px, decoded) >= 40.0


def test_corruption_raises():
    px = np.zeros((8, 8), dtype=np.uint8)
    data = encode_image(px, "png")
    with pytest.raises(CodecError):
        decode_image(data[: len(data) // 2])
    with pytest.raises(CodecError):
        decode_image(b"XXXX" + data[4:])
    with pytest.raises(CodecError):
        decode_image(None)


def test_phash_stability_and_sensitivity():
    rng = np.random.default_rng(13)
    px = rng.integers(0, 256, size=(16, 16), dtype=np.uint8)
    assert phash64(px) == phash64(px.copy())
    # lossy quantization must not change the phash materially
    for fmt in ("jpeg", "webp"):
        _, _, _, dec = decode_image(encode_image(px, fmt))
        assert hamming64(phash64(px), phash64(dec)) <= 4


# ---- Spark expectations over the fixture table --------------------------


def test_decodable_catches_corrupt(spark, fixture):
    df, _, truth = fixture
    suite = ExpectationSuite("img")
    suite.add("expect_image_bytes_to_be_decodable", column="bytes")
    res = validate_images(df, suite, result_format="BASIC")
    evr = res.results[0]
    assert evr.success is False
    assert evr.result["unexpected_count"] == len(truth.corrupt)


def test_dims_consistency(spark, fixture):
    df, _, truth = fixture
    suite = ExpectationSuite("img")
    suite.add("expect_image_dims_to_match_metadata")
    res = validate_images(df, suite, result_format="BASIC")
    evr = res.results[0]
    # corrupt rows also fail (ok=False); dim mismatches on corrupt rows dedup
    expected = len(truth.dim_mismatch | truth.corrupt)
    assert evr.result["unexpected_count"] == expected


def test_fmt_consistency(spark, fixture):
    df, _, truth = fixture
    suite = ExpectationSuite("img")
    suite.add("expect_image_fmt_to_match_metadata")
    res = validate_images(df, suite, result_format="BASIC")
    expected = len(truth.fmt_mismatch | truth.corrupt)
    assert res.results[0].result["unexpected_count"] == expected


def test_phash_recompute(spark, fixture):
    df, _, truth = fixture
    suite = ExpectationSuite("img")
    suite.add("expect_image_phash_to_match", max_hamming_distance=0)
    res = validate_images(df, suite, result_format="BASIC")
    expected = len(truth.phash_perturbed | truth.corrupt)
    assert res.results[0].result["unexpected_count"] == expected
    # allowing the perturbed bit through
    suite2 = ExpectationSuite("img2")
    suite2.add("expect_image_phash_to_match", max_hamming_distance=1)
    res2 = validate_images(df, suite2, result_format="BASIC")
    assert res2.results[0].result["unexpected_count"] == len(truth.corrupt)


def test_full_image_suite_with_partitions_and_referential(spark, fixture):
    """The flagship image run: payload + uniqueness + referential + caption
    equality, per-fmt verdicts, one engine call."""
    df, ref, truth = fixture
    enriched = enrich_images(df)
    suite = ExpectationSuite("images_full")
    suite.add("expect_image_bytes_to_be_decodable", column="bytes")
    suite.add("expect_image_dims_to_match_metadata")
    suite.add("expect_column_values_to_be_unique", column="image_id")
    suite.add("expect_column_values_to_not_be_null", column="caption")
    suite.add(
        "expect_column_values_to_exist_in",
        column="image_id",
        ref=ref,
        ref_column="image_id",
        broadcast=True,
    )
    suite.add(
        "expect_column_distinct_values_to_be_in_set",
        column="fmt",
        value_set=["png", "jpeg", "webp"],
    )
    from great_expectations_spark.engine import validate

    res = validate(enriched, suite, result_format="BASIC", partition_by=["fmt"])
    by_type = {r.expectation_config["expectation_type"]: r for r in res.results}
    assert (
        by_type["expect_column_values_to_not_be_null"].result["unexpected_count"]
        == len(truth.null_caption)
    )
    assert (
        by_type["expect_column_values_to_exist_in"].result["unexpected_count"]
        == len(truth.missing_in_ref - truth.duplicates)
        + sum(2 for d in truth.missing_in_ref & truth.duplicates)
    )
    dup_rows = by_type["expect_column_values_to_be_unique"].result["unexpected_count"]
    assert dup_rows == 2 * len(truth.duplicates)  # both rows of each collision
    # per-fmt partition verdicts exist for the map expectations
    fmts = {r.partition["fmt"] for r in res.partition_results}
    assert fmts == {"png", "jpeg", "webp"}


def test_caption_equality_vs_ref(spark, fixture):
    """Exact caption parity vs the reference table via pair-equality after a
    join (the input_hint invariant)."""
    df, ref, truth = fixture
    # duplicate-id rows join the original id's ref caption and would count as
    # extra mismatches — exclude them to isolate the drift signal
    base = df.filter(~df.image_id.isin(list(truth.duplicates)))
    joined = base.select("image_id", "caption").join(
        ref.withColumnRenamed("caption", "ref_caption"), "image_id", "inner"
    )
    suite = ExpectationSuite("cap")
    suite.add(
        "expect_column_pair_values_to_be_equal",
        column_A="caption",
        column_B="ref_caption",
    )
    from great_expectations_spark.engine import validate

    res = validate(joined, suite, result_format="BASIC")
    # drifted captions differ; null captions (both null) are ignored rows
    assert res.results[0].result["unexpected_count"] == len(truth.caption_drift)


def test_image_benchmark_contamination(spark, fixture):
    df, ref, truth = fixture
    hashes = df.select("image_id", "phash")
    # benchmark = a slice of the corpus itself → those images match at 0
    bench = hashes.filter(F.abs(F.xxhash64("image_id")) % 11 == 0)
    out = image_benchmark_contamination(hashes, bench, max_hamming=0)
    got = {r["image_id"]: r["benchmark_id"] for r in out.collect()}
    for r in bench.collect():
        assert got[r["image_id"]] == r["image_id"]


def test_image_suite_through_checkpoint_resume_unenriched(spark, tmp_path):
    """The north-rule flagship composition end-to-end with NO manual decode
    wiring: a hand-built image suite (payload + metadata expectations) runs
    through CheckpointRunner per-fmt partitions, dies mid-run, and resumes
    skipping the completed partitions — the planner auto-adds the shared
    decode projection inside each per-partition validation."""
    from great_expectations_spark.core.config import ExpectationSuite
    from great_expectations_spark.sources.stores import CheckpointRunner, ResultsStore
    from great_expectations_spark.testing.images import images_df

    df, _, _ = images_df(
        spark, n=200, seed=9,
        dup_frac=0, corrupt_frac=0, dim_mismatch_frac=0, fmt_mismatch_frac=0,
        phash_perturb_frac=0, null_caption_frac=0,
    )
    suite = ExpectationSuite(name="img-ckpt")
    suite.add("expect_image_bytes_to_be_decodable", column="bytes")
    suite.add("expect_image_phash_to_match", column="bytes", phash_column="phash")
    suite.add("expect_column_values_to_not_be_null", column="caption")

    store = ResultsStore(spark, str(tmp_path / "imgstore"))
    runner = CheckpointRunner(spark, store)
    with pytest.raises(RuntimeError, match="simulated failure"):
        runner.run(
            df, suite, partition_by=["fmt"], input_fingerprint="imgs-v1",
            run_id="r1", fail_after=1,
        )
    out = runner.run(
        df, suite, partition_by=["fmt"], input_fingerprint="imgs-v1", run_id="r2"
    )
    assert len(out["partitions_skipped"]) == 1  # the partition r1 completed
    assert len(out["partitions_run"]) >= 2
    assert out["partitions_failed"] == []
    results = store.read_results()
    per_part = results.filter(results.partition_key.isNotNull())
    assert per_part.filter(~per_part.success).count() == 0
    # all three fmt partitions have lineage-complete verdicts
    assert per_part.select("partition_key").distinct().count() == 3
