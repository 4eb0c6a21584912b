"""Multimodal payload plumbing — audio & video as opaque binary columns with
typed metadata, processed through Arrow ``mapInPandas`` kernels.

Mirrors the image pipeline's design (operators/images.py): the container has
no real codecs (ffmpeg/librosa), so the byte formats are deterministic fakes
(documented stubs per the build brief) — magic + header + raw payload — while
everything Spark-side is real and tested: schemas, binary handling, Arrow
batch shape, kernel signatures, partition behavior. Swapping a real decoder
into ``_decode_audio`` / ``_decode_video`` changes nothing upstream.

Fake formats:
  audio: b"FAUD" + <u32 sample_rate> + <u32 n_samples> + int16 PCM samples
  video: b"FVID" + <u32 w> + <u32 h> + <u32 n_frames> + n_frames × (w·h u8)
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from great_expectations_spark.functions.image_codec import encode_image, phash64

AUDIO_MAGIC = b"FAUD"
VIDEO_MAGIC = b"FVID"
_AUDIO_HEADER = struct.Struct("<4sII")
_VIDEO_HEADER = struct.Struct("<4sIII")

AUDIO_SCHEMA = (
    "audio_id string, bytes binary, sample_rate int, n_samples int, caption string"
)
VIDEO_SCHEMA = "video_id string, bytes binary, w int, h int, n_frames int, caption string"


class MediaCodecError(ValueError):
    pass


# ---- fake codecs (STUBS — deterministic, replace with ffmpeg/librosa) ----


def encode_audio(samples: np.ndarray, sample_rate: int) -> bytes:
    return _AUDIO_HEADER.pack(AUDIO_MAGIC, sample_rate, len(samples)) + samples.astype(
        "<i2"
    ).tobytes()


def _decode_audio(data: bytes) -> tuple[int, np.ndarray]:
    if data is None or len(data) < _AUDIO_HEADER.size:
        raise MediaCodecError("truncated audio header")
    magic, rate, n = _AUDIO_HEADER.unpack_from(data)
    if magic != AUDIO_MAGIC:
        raise MediaCodecError("bad audio magic")
    expected = _AUDIO_HEADER.size + 2 * n
    if len(data) != expected:
        raise MediaCodecError(f"audio payload {len(data)} != {expected}")
    return rate, np.frombuffer(data, dtype="<i2", offset=_AUDIO_HEADER.size)


def encode_video(frames: np.ndarray) -> bytes:
    n, h, w = frames.shape
    return _VIDEO_HEADER.pack(VIDEO_MAGIC, w, h, n) + frames.astype(np.uint8).tobytes()


def _decode_video(data: bytes) -> np.ndarray:
    if data is None or len(data) < _VIDEO_HEADER.size:
        raise MediaCodecError("truncated video header")
    magic, w, h, n = _VIDEO_HEADER.unpack_from(data)
    if magic != VIDEO_MAGIC:
        raise MediaCodecError("bad video magic")
    expected = _VIDEO_HEADER.size + w * h * n
    if len(data) != expected:
        raise MediaCodecError(f"video payload {len(data)} != {expected}")
    return np.frombuffer(data, dtype=np.uint8, offset=_VIDEO_HEADER.size).reshape(n, h, w)


# ---- audio kernels -------------------------------------------------------

AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("ok", T.BooleanType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("duration_sec", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.IntegerType()),
        T.StructField("zero_crossings", T.IntegerType()),
        T.StructField("err", T.StringType()),
    ]
)


@F.pandas_udf(AUDIO_FEATURES_SCHEMA)
def audio_features_udf(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
    """Decode + feature-extract a batch of audio payloads (vectorized numpy
    per clip: RMS, peak, zero-crossing count)."""
    for series in batches:
        rows = []
        for data in series:
            try:
                rate, samples = _decode_audio(bytes(data) if data is not None else None)
                s = samples.astype(np.float64)
                rows.append(
                    (
                        True,
                        int(rate),
                        len(samples),
                        len(samples) / rate if rate else 0.0,
                        float(np.sqrt(np.mean(s**2))) if len(s) else 0.0,
                        # abs over the FLOAT copy: np.abs(int16 -32768)
                        # wraps back to -32768
                        int(np.max(np.abs(s))) if len(s) else 0,
                        int(np.count_nonzero(np.diff(np.signbit(s)))),
                        None,
                    )
                )
            except Exception as e:
                rows.append((False, None, None, None, None, None, None, str(e)))
        yield pd.DataFrame(
            rows,
            columns=[
                "ok", "sample_rate", "n_samples", "duration_sec",
                "rms", "peak", "zero_crossings", "err",
            ],
        )


def _rebalance(df: DataFrame) -> DataFrame:
    """Decode/resample/frame kernels are the CPU-heavy stage; an
    under-partitioned input (single-file parquet) would run them on one
    core. Round-robin rebalance — a no-op on well-partitioned tables."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def enrich_audio(df: DataFrame, bytes_col: str = "bytes") -> DataFrame:
    return _rebalance(df).withColumn("_audio", audio_features_udf(F.col(bytes_col)))


def resample_audio(df: DataFrame, target_rate: int, bytes_col: str = "bytes") -> DataFrame:
    """Nearest-sample resample to ``target_rate`` — new bytes column
    ``bytes_resampled`` (mapInPandas; schema = input + new column)."""
    if not isinstance(target_rate, int) or target_rate < 1:
        # a zero/negative rate would otherwise hit the per-row except and
        # silently NULL every output instead of surfacing the config error
        raise ValueError(f"target_rate must be a positive int, got {target_rate!r}")
    df = _rebalance(df)
    out_schema = T.StructType(
        df.schema.fields + [T.StructField("bytes_resampled", T.BinaryType())]
    )

    def gen(batches):
        for pdf in batches:
            out = []
            for data in pdf[bytes_col]:
                try:
                    rate, samples = _decode_audio(bytes(data))
                    idx = np.floor(
                        np.arange(0, len(samples), rate / target_rate)
                    ).astype(int)
                    idx = idx[idx < len(samples)]
                    out.append(encode_audio(samples[idx], target_rate))
                except Exception:
                    out.append(None)
            pdf = pdf.copy()
            pdf["bytes_resampled"] = out
            yield pdf

    return df.mapInPandas(gen, out_schema)


# ---- video kernels -------------------------------------------------------

VIDEO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("ok", T.BooleanType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("mean_brightness", T.DoubleType()),
        T.StructField("frame_phashes", T.ArrayType(T.LongType())),
        T.StructField("err", T.StringType()),
    ]
)


@F.pandas_udf(VIDEO_FEATURES_SCHEMA)
def video_features_udf(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
    """Decode + per-frame perceptual hashes (reuses the image phash kernel)."""
    for series in batches:
        rows = []
        for data in series:
            try:
                frames = _decode_video(bytes(data) if data is not None else None)
                n, h, w = frames.shape
                rows.append(
                    (
                        True, int(w), int(h), int(n),
                        float(frames.mean()),
                        [phash64(f) for f in frames],
                        None,
                    )
                )
            except Exception as e:
                rows.append((False, None, None, None, None, None, str(e)))
        yield pd.DataFrame(
            rows,
            columns=["ok", "w", "h", "n_frames", "mean_brightness", "frame_phashes", "err"],
        )


def enrich_video(df: DataFrame, bytes_col: str = "bytes") -> DataFrame:
    return _rebalance(df).withColumn("_video", video_features_udf(F.col(bytes_col)))


def sample_frames(
    df: DataFrame, every_n: int = 2, bytes_col: str = "bytes", id_col: str = "video_id"
) -> DataFrame:
    """Frame sampling: one output row per kept frame, frame re-encoded as a
    single-frame image payload (functions/image_codec) — the training-data
    shape for image models fed from video."""
    if not isinstance(every_n, int) or every_n < 1:
        # range(..., 0) raises ValueError inside the executor with an
        # opaque traceback; validate at the API surface instead
        raise ValueError(f"every_n must be a positive int, got {every_n!r}")
    df = _rebalance(df)
    out_schema = f"{id_col} string, frame_idx int, frame_bytes binary"

    def gen(batches):
        for pdf in batches:
            ids, idxs, blobs = [], [], []
            for vid, data in zip(pdf[id_col], pdf[bytes_col]):
                try:
                    frames = _decode_video(bytes(data))
                except Exception:
                    continue
                for i in range(0, len(frames), every_n):
                    ids.append(vid)
                    idxs.append(i)
                    blobs.append(encode_image(frames[i], "png"))
            yield pd.DataFrame({id_col: ids, "frame_idx": idxs, "frame_bytes": blobs})

    return df.select(id_col, bytes_col).mapInPandas(gen, out_schema)


# ---- deterministic fixtures ----------------------------------------------


def audio_df(spark, n: int = 200, seed: int = 42, corrupt_frac: float = 0.02):
    rng = np.random.default_rng(seed)
    rows = []
    corrupt = set(rng.choice(n, size=int(n * corrupt_frac), replace=False).tolist())
    for i in range(n):
        rate = int(rng.choice([8000, 16000, 44100]))
        n_samp = int(rng.integers(100, 2000))
        samples = rng.integers(-(1 << 14), 1 << 14, size=n_samp, dtype=np.int16)
        data = encode_audio(samples, rate)
        if i in corrupt:
            data = data[: len(data) // 2]
        rows.append((f"aud-{i:08d}", bytearray(data), rate, n_samp, f"audio clip {i}"))
    return spark.createDataFrame(rows, AUDIO_SCHEMA)


def video_df(spark, n: int = 100, seed: int = 42, corrupt_frac: float = 0.02):
    rng = np.random.default_rng(seed)
    rows = []
    corrupt = set(rng.choice(n, size=int(n * corrupt_frac), replace=False).tolist())
    for i in range(n):
        w = h = int(rng.integers(8, 17))
        n_frames = int(rng.integers(2, 9))
        frames = rng.integers(0, 256, size=(n_frames, h, w), dtype=np.uint8)
        data = encode_video(frames)
        if i in corrupt:
            data = data[: len(data) // 2]
        rows.append((f"vid-{i:08d}", bytearray(data), w, h, n_frames, f"video clip {i}"))
    return spark.createDataFrame(rows, VIDEO_SCHEMA)
