"""Deterministic synthetic image fixture generator.

Images are encoded with the synthetic codec in functions/image_codec.py.
Everything Spark-side — schema, binary column handling, Arrow batch shape,
partition skew — is real; only the pixel codec is synthetic.

Schema produced (exactly BASELINE.json input_hint):
  image_id string, bytes binary, w int, h int, fmt string, caption string,
  phash bigint
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from great_expectations_spark.functions.image_codec import (
    decode_image,
    encode_image,
    phash64,
)


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    if mse == 0:
        return float("inf")
    return 10.0 * np.log10(255.0**2 / mse)


@dataclass
class ImageTruth:
    """Ground truth of injected violations, keyed by image_id."""

    duplicates: set = field(default_factory=set)  # ids sharing another row's id
    corrupt: set = field(default_factory=set)  # undecodable bytes
    dim_mismatch: set = field(default_factory=set)  # w/h columns wrong
    fmt_mismatch: set = field(default_factory=set)  # fmt column wrong
    phash_perturbed: set = field(default_factory=set)  # phash column wrong
    null_caption: set = field(default_factory=set)
    missing_in_ref: set = field(default_factory=set)  # for captions_ref
    caption_drift: set = field(default_factory=set)


FMT_WEIGHTS = {"png": 0.90, "jpeg": 0.08, "webp": 0.02}  # deliberately skewed


def generate_images(
    n: int,
    seed: int = 42,
    dup_frac: float = 0.01,
    corrupt_frac: float = 0.02,
    dim_mismatch_frac: float = 0.02,
    fmt_mismatch_frac: float = 0.01,
    phash_perturb_frac: float = 0.02,
    null_caption_frac: float = 0.02,
    missing_ref_frac: float = 0.01,
    caption_drift_frac: float = 0.01,
) -> tuple[list[tuple], list[tuple], ImageTruth]:
    """Deterministic rows for the images table + captions_ref table + truth.

    Returns (image_rows, ref_rows, truth); image_rows match the input_hint
    schema order (image_id, bytes, w, h, fmt, caption, phash).
    """
    rng = np.random.default_rng(seed)
    fmts = rng.choice(
        list(FMT_WEIGHTS), size=n, p=list(FMT_WEIGHTS.values())
    )
    truth = ImageTruth()
    rows: list[tuple] = []
    ref_rows: list[tuple] = []

    def pick(frac: float) -> np.ndarray:
        k = int(round(n * frac))
        return rng.choice(n, size=k, replace=False) if k else np.array([], dtype=int)

    dup_idx = set(pick(dup_frac).tolist())
    corrupt_idx = set(pick(corrupt_frac).tolist())
    dim_idx = set(pick(dim_mismatch_frac).tolist())
    fmt_idx = set(pick(fmt_mismatch_frac).tolist())
    ph_idx = set(pick(phash_perturb_frac).tolist())
    cap_idx = set(pick(null_caption_frac).tolist())
    ref_missing_idx = set(pick(missing_ref_frac).tolist())
    drift_idx = set(pick(caption_drift_frac).tolist())

    for i in range(n):
        image_id = f"img-{i:012d}"
        fmt = str(fmts[i])
        side = int(rng.integers(8, 17))
        pixels = rng.integers(0, 256, size=(side, side), dtype=np.uint8)
        data = encode_image(pixels, fmt)
        _, _, _, decoded = decode_image(data)
        w = h = side
        ph = phash64(decoded)
        caption = f"caption for image {i}: " + " ".join(
            f"tok{int(t)}" for t in rng.integers(0, 50, size=int(rng.integers(3, 12)))
        )

        if i in dup_idx and i > 0:
            image_id = f"img-{(i - 1):012d}"  # collide with previous id
            truth.duplicates.add(image_id)
        if i in corrupt_idx:
            cut = max(1, len(data) // 2)
            data = data[:cut]
            truth.corrupt.add(image_id)
        if i in dim_idx:
            w = side + 1
            truth.dim_mismatch.add(image_id)
        if i in fmt_idx:
            fmt = "png" if fmt != "png" else "jpeg"
            truth.fmt_mismatch.add(image_id)
        if i in ph_idx:
            ph = ph ^ (1 << int(rng.integers(0, 64)))
            if ph >= 1 << 63:
                ph -= 1 << 64
            truth.phash_perturbed.add(image_id)
        if i in cap_idx:
            caption = None
            truth.null_caption.add(image_id)

        rows.append((image_id, bytearray(data), w, h, fmt, caption, ph))

        if i in ref_missing_idx:
            truth.missing_in_ref.add(image_id)
        else:
            ref_caption = caption
            if i in drift_idx and caption is not None:
                ref_caption = caption + " DRIFTED"
                truth.caption_drift.add(image_id)
            ref_rows.append((image_id, ref_caption))

    return rows, ref_rows, truth


IMAGES_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long"
)
REF_SCHEMA = "image_id string, caption string"


def images_df(spark, n: int = 1000, seed: int = 42, **kwargs):
    rows, ref_rows, truth = generate_images(n, seed=seed, **kwargs)
    df = spark.createDataFrame(rows, schema=IMAGES_SCHEMA)
    ref = spark.createDataFrame(ref_rows, schema=REF_SCHEMA)
    return df, ref, truth


# ---- distributed generation (benchmark / scale path) ---------------------


def distributed_images_df(
    spark,
    n: int,
    partitions: int = 64,
    seed: int = 42,
    side_range: tuple[int, int] = (8, 17),
):
    """Images table generated ON THE EXECUTORS (mapInPandas over spark.range):
    deterministic per image_id, so any two runs — and any two cluster sizes —
    produce identical rows. This is the scale path for benchmarking: the
    driver never materializes a row, generation + validation parallelize
    across all cores, matching the input_hint schema exactly.

    Violation injection (deterministic by id): every 97th image corrupt,
    every 89th dim-mismatched, every 83rd fmt-mismatched, every 79th
    phash-perturbed, every 73rd caption NULL.
    """
    import pandas as pd

    fmt_names = list(FMT_WEIGHTS)
    fmt_probs = list(FMT_WEIGHTS.values())

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            out = {
                "image_id": [], "bytes": [], "w": [], "h": [],
                "fmt": [], "caption": [], "phash": [],
            }
            for i in ids:
                i = int(i)
                rng = np.random.default_rng(seed * 1_000_003 + i)
                fmt = str(rng.choice(fmt_names, p=fmt_probs))
                side = int(rng.integers(side_range[0], side_range[1]))
                pixels = rng.integers(0, 256, size=(side, side), dtype=np.uint8)
                data = encode_image(pixels, fmt)
                _, _, _, decoded = decode_image(data)
                w = h = side
                ph = phash64(decoded)
                caption = f"caption for image {i}"
                if i % 97 == 0:
                    data = data[: max(1, len(data) // 2)]
                if i % 89 == 0:
                    w = side + 1
                if i % 83 == 0:
                    fmt = "png" if fmt != "png" else "jpeg"
                if i % 79 == 0:
                    ph = (ph ^ (1 << (i % 64))) & ((1 << 64) - 1)
                    if ph >= 1 << 63:
                        ph -= 1 << 64
                if i % 73 == 0:
                    caption = None
                out["image_id"].append(f"img-{i:012d}")
                out["bytes"].append(bytes(data))
                out["w"].append(w)
                out["h"].append(h)
                out["fmt"].append(fmt)
                out["caption"].append(caption)
                out["phash"].append(ph)
            yield pd.DataFrame(out)

    return spark.range(0, n, 1, partitions).mapInPandas(gen, IMAGES_SCHEMA)
