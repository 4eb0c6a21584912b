"""Audio/video payload plumbing (operators/multimodal.py) + phash image
near-dup pairs (operators/images.py)."""

from pyspark.sql import functions as F

from great_expectations_spark.operators import multimodal as mm


def test_audio_enrich_and_corruption(spark):
    df = mm.audio_df(spark, n=200, seed=1)
    e = mm.enrich_audio(df)
    rows = e.select(
        "audio_id",
        F.col("_audio.ok").alias("ok"),
        F.col("_audio.sample_rate").alias("dec_rate"),
        F.col("_audio.n_samples").alias("dec_n"),
        F.col("_audio.rms").alias("rms"),
        F.col("_audio.peak").alias("peak"),
        "sample_rate",
        "n_samples",
    ).collect()
    assert len(rows) == 200
    bad = [r for r in rows if not r["ok"]]
    assert len(bad) == 4  # 2% of 200
    good = [r for r in rows if r["ok"]]
    for r in good[:20]:
        # decoded metadata must agree with the table's typed metadata columns
        assert r["dec_rate"] == r["sample_rate"] and r["dec_n"] == r["n_samples"]
        assert r["rms"] >= 0 and r["peak"] >= 0


def test_audio_resample(spark):
    df = mm.audio_df(spark, n=50, seed=2, corrupt_frac=0.0)
    out = mm.resample_audio(df, target_rate=4000)
    re = mm.enrich_audio(
        out.select("audio_id", F.col("bytes_resampled").alias("bytes"))
    ).select("audio_id", "_audio.*")
    rows = re.collect()
    assert all(r["ok"] for r in rows)
    assert all(r["sample_rate"] == 4000 for r in rows)


def test_video_enrich_and_frame_sampling(spark):
    df = mm.video_df(spark, n=100, seed=3)
    e = mm.enrich_video(df).select("video_id", "n_frames", "_video.*")
    rows = e.collect()
    good = [r for r in rows if r["ok"]]
    assert len(rows) - len(good) == 2  # corrupt
    for r in good[:20]:
        assert len(r["frame_phashes"]) == r[1] == r["n_frames"]

    frames = mm.sample_frames(df, every_n=2)
    from great_expectations_spark.functions.image_codec import decode_image

    sampled = frames.collect()
    # every good video contributes ceil(n_frames/2) frames
    expected = sum((r["n_frames"] + 1) // 2 for r in good)
    assert len(sampled) == expected
    fmt, w, h, px = decode_image(bytes(sampled[0]["frame_bytes"]))
    assert fmt == "png" and w > 0 and h > 0


def test_image_phash_near_dups(spark):
    from great_expectations_spark.operators.images import image_near_duplicate_pairs
    from great_expectations_spark.testing.images import images_df

    df, _, _ = images_df(
        spark, n=300, seed=11, phash_perturb_frac=0.0, dup_frac=0.0, corrupt_frac=0.0
    )
    # build true pixel duplicates: every image copied under a "-copy" id
    copies = df.select(
        F.concat("image_id", F.lit("-copy")).alias("image_id"),
        "bytes", "w", "h", "fmt", "caption", "phash",
    )
    pairs = image_near_duplicate_pairs(df.unionByName(copies), max_hamming=0).collect()
    found = {(p["image_a"], p["image_b"]) for p in pairs}
    originals = [r["image_id"] for r in df.select("image_id").collect()]
    expected = {(i, i + "-copy") for i in originals}
    assert expected <= found
    assert all(p["hamming"] == 0 for p in pairs if (p["image_a"], p["image_b"]) in expected)


def test_audio_peak_full_scale_negative(spark):
    """int16 -32768 is valid PCM but np.abs wraps it in int16 — the peak
    must come from the float copy."""
    import numpy as np

    from great_expectations_spark.operators.multimodal import (
        encode_audio,
        enrich_audio,
    )

    samples = np.array([-32768, 100, -5], dtype=np.int16)
    payload = encode_audio(samples, 16000)
    df = spark.createDataFrame([("c1", payload)], "clip_id string, bytes binary")
    row = enrich_audio(df).select("_audio.*").collect()[0]
    assert row["peak"] == 32768
