"""Deterministic synthetic image codec — the payload format the image
expectations decode (operators/images.py, operators/multimodal.py).

No real image library (PIL/cv2) is a dependency, so the codec is a
deterministic stand-in: a 4-byte magic + width/height header + 8-bit
grayscale payload, with per-format lossy quantization chosen so decoded-pixel
PSNR vs the original stays ≥ 40 dB for lossy formats. Swapping in
PIL/libjpeg later changes this module only.
"""

from __future__ import annotations

import struct

import numpy as np

MAGICS = {"png": b"FPNG", "jpeg": b"FJPG", "webp": b"FWEB"}
_MAGIC_TO_FMT = {v: k for k, v in MAGICS.items()}
# lossy quantization steps: decoded = (pixel // step) * step
# jpeg step 4 → max err 3 → MSE ≈ 3.5 → PSNR ≈ 42.7 dB (≥ 40)
# webp step 2 → max err 1 → MSE ≈ 0.5 → PSNR ≈ 51 dB
QUANT_STEP = {"png": 1, "jpeg": 4, "webp": 2}
_HEADER = struct.Struct("<4sII")  # magic, w, h


class CodecError(ValueError):
    pass


def encode_image(pixels: np.ndarray, fmt: str) -> bytes:
    """pixels: 2-D uint8 array (h, w)."""
    if fmt not in MAGICS:
        raise CodecError(f"unknown format {fmt}")
    h, w = pixels.shape
    step = QUANT_STEP[fmt]
    payload = pixels if step == 1 else (pixels // step) * step
    return _HEADER.pack(MAGICS[fmt], w, h) + payload.astype(np.uint8).tobytes()


def decode_image(data: bytes) -> tuple[str, int, int, np.ndarray]:
    """Returns (fmt, w, h, pixels). Raises CodecError on corruption."""
    if data is None or len(data) < _HEADER.size:
        raise CodecError("truncated header")
    magic, w, h = _HEADER.unpack_from(data)
    fmt = _MAGIC_TO_FMT.get(magic)
    if fmt is None:
        raise CodecError(f"bad magic {magic!r}")
    expected = _HEADER.size + w * h
    if len(data) != expected:
        raise CodecError(f"payload size {len(data)} != {expected}")
    pixels = np.frombuffer(data, dtype=np.uint8, offset=_HEADER.size).reshape(h, w)
    return fmt, w, h, pixels


def phash64(pixels: np.ndarray) -> int:
    """Deterministic 64-bit perceptual hash: 8×8 block means vs their mean.

    Signed 64-bit (fits Spark bigint)."""
    h, w = pixels.shape
    # resize to 8×8 by block averaging (pad to multiples of 8)
    ph = ((h + 7) // 8) * 8
    pw = ((w + 7) // 8) * 8
    padded = np.zeros((ph, pw), dtype=np.float64)
    padded[:h, :w] = pixels
    if ph > h:
        padded[h:, :w] = pixels[-1:, :]
    if pw > w:
        padded[:, w:] = padded[:, w - 1 : w]
    blocks = padded.reshape(8, ph // 8, 8, pw // 8).mean(axis=(1, 3))
    bits = (blocks > blocks.mean()).flatten()
    # bit i of the hash = bits[i] (vectorized packing, little-endian)
    val = int.from_bytes(np.packbits(bits, bitorder="little").tobytes(), "little")
    # to signed 64-bit
    if val >= 1 << 63:
        val -= 1 << 64
    return int(val)


def hamming64(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")
