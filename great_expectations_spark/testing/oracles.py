"""Pure-Python oracles for the image/audio/video driver queries.

The multimodal fixtures are synthesized deterministically (testing/images.py,
operators/multimodal.py), so the driver's DuckDB oracle can't read them from
parquet — instead, each function here INDEPENDENTLY recomputes the expected
output single-node (plain Python loops over the generator rows, no Spark, no
engine code) and emits it as a ``SELECT ... FROM (VALUES ...)`` statement for
DuckDB. This mirrors the reference's own cross-engine strategy: the pandas
path is the oracle for the Spark path. The byte codecs are shared fixtures
(the thing being validated is the distributed plumbing + validation
semantics, not the stub codec).
"""

from __future__ import annotations

from typing import Any, Optional

from great_expectations_spark.functions.image_codec import (
    decode_image,
    hamming64,
    phash64,
)
from great_expectations_spark.operators.multimodal import (
    _decode_audio,
    _decode_video,
    audio_df,  # noqa: F401  (kept for symmetry; generators re-run inline)
)
from great_expectations_spark.testing.images import generate_images


def _sql_lit(v: Any, typ: str) -> str:
    if v is None:
        return f"CAST(NULL AS {typ})"
    if typ == "BOOLEAN":
        return "TRUE" if v else "FALSE"
    if typ == "VARCHAR":
        escaped = str(v).replace("'", "''")
        return f"'{escaped}'"
    if typ == "DOUBLE":
        return f"CAST({float(v)!r} AS DOUBLE)"
    return f"CAST({int(v)} AS {typ})"


def values_sql(rows: list[tuple], cols: list[tuple[str, str]]) -> str:
    """rows + [(name, duckdb_type)] → SELECT over a VALUES table."""
    names = ", ".join(n for n, _ in cols)
    if not rows:  # VALUES needs ≥1 tuple — emit a typed zero-row select
        typed = ", ".join(f"CAST(NULL AS {t}) AS {n}" for n, t in cols)
        return f"SELECT {typed} WHERE FALSE"
    tuples = ",\n".join(
        "(" + ", ".join(_sql_lit(v, t) for v, (_, t) in zip(r, cols)) + ")"
        for r in rows
    )
    return f"SELECT {names} FROM (VALUES\n{tuples}\n) AS t({names})"


# ---- shared per-image facts ----------------------------------------------


def _image_facts(n: int, seed: int, **kwargs) -> list[dict]:
    rows, _, _ = generate_images(n, seed=seed, **kwargs)
    facts = []
    for image_id, data, w, h, fmt, caption, ph in rows:
        try:
            dfmt, dw, dh, pixels = decode_image(bytes(data))
            ok, dph = True, phash64(pixels)
        except Exception:
            ok = False
            dfmt = dw = dh = dph = None
        facts.append(
            dict(
                id=image_id, w=w, h=h, fmt=fmt, caption=caption, ph=ph,
                ok=ok, dfmt=dfmt, dw=dw, dh=dh, dph=dph,
            )
        )
    return facts


# ---- images_enrich -------------------------------------------------------


def images_enrich_sql(n: int = 500, seed: int = 7) -> str:
    rows = []
    for f in _image_facts(n, seed):
        rows.append(
            (
                f["id"],
                f["ok"],
                f["ok"] and f["dw"] == f["w"] and f["dh"] == f["h"],
                f["ok"] and f["dfmt"] == f["fmt"],
                hamming64(f["dph"], f["ph"]) if f["ok"] else None,
            )
        )
    return values_sql(
        rows,
        [
            ("image_id", "VARCHAR"),
            ("decode_ok", "BOOLEAN"),
            ("dims_match", "BOOLEAN"),
            ("fmt_match", "BOOLEAN"),
            ("phash_hamming", "INTEGER"),
        ],
    )


# ---- images_validate -----------------------------------------------------


def images_validate_sql(n: int = 500, seed: int = 7) -> str:
    """Expected EVR rows for the flagship image suite (global + per-fmt
    partition verdicts) — validation semantics recomputed by hand:
    map expectations count considered/unexpected per domain; uniqueness
    attributes rows of globally-duplicated ids to their partitions;
    row-count is an aggregate (no element/unexpected counts)."""
    facts = _image_facts(n, seed)
    fmts = sorted({f["fmt"] for f in facts})
    from collections import Counter

    id_counts = Counter(f["id"] for f in facts)

    def metrics(sub: list[dict]) -> list[tuple]:
        elem = len(sub)
        out = []
        # (expectation_type, considered, unexpected) for the map expectations
        specs = [
            (
                "expect_image_bytes_to_be_decodable",
                elem,
                sum(1 for f in sub if not f["ok"]),
            ),
            (
                "expect_image_dims_to_match_metadata",
                elem,
                sum(
                    1
                    for f in sub
                    if not (f["ok"] and f["dw"] == f["w"] and f["dh"] == f["h"])
                ),
            ),
            (
                "expect_image_fmt_to_match_metadata",
                elem,
                sum(1 for f in sub if not (f["ok"] and f["dfmt"] == f["fmt"])),
            ),
            (
                "expect_image_phash_to_match",
                elem,
                sum(
                    1
                    for f in sub
                    if not (f["ok"] and hamming64(f["dph"], f["ph"]) <= 0)
                ),
            ),
            (
                "expect_column_values_to_not_be_null",
                elem,
                sum(1 for f in sub if f["caption"] is None),
            ),
            (
                "expect_column_values_to_be_in_set",
                elem,
                sum(1 for f in sub if f["fmt"] not in ("png", "jpeg", "webp")),
            ),
        ]
        for etype, _, unexpected in specs:
            out.append((etype, 1 if unexpected == 0 else 0, elem, unexpected))
        # uniqueness: rows whose image_id is a GLOBAL duplicate
        dup_rows = sum(1 for f in sub if id_counts[f["id"]] > 1)
        out.append(
            ("expect_column_values_to_be_unique", 1 if dup_rows == 0 else 0, elem, dup_rows)
        )
        # table row count: aggregate — no element/unexpected counts in result
        out.append(
            ("expect_table_row_count_to_be_between", 1 if 1 <= elem <= 10**12 else 0, None, None)
        )
        return out

    rows: list[tuple] = []
    for etype, success, elem, unexpected in metrics(facts):
        rows.append((etype, "global", success, elem, unexpected))
    for fmt in fmts:
        sub = [f for f in facts if f["fmt"] == fmt]
        for etype, success, elem, unexpected in metrics(sub):
            rows.append((etype, f"fmt={fmt}", success, elem, unexpected))
    return values_sql(
        rows,
        [
            ("expectation_type", "VARCHAR"),
            ("partition_key", "VARCHAR"),
            ("success", "BIGINT"),
            ("element_count", "BIGINT"),
            ("unexpected_count", "BIGINT"),
        ],
    )


# ---- image_phash_dedup ---------------------------------------------------


def image_phash_dedup_sql(n: int = 300, seed: int = 11) -> str:
    rows, _, _ = generate_images(n, seed=seed, dup_frac=0.0, corrupt_frac=0.0)
    ids_phash = [(r[0], r[6]) for r in rows]
    ids_phash += [(f"{i}-copy", p) for i, p in ids_phash]
    by_phash: dict[int, list[str]] = {}
    for i, p in ids_phash:
        by_phash.setdefault(p, []).append(i)
    pairs = []
    for p, ids in by_phash.items():
        ids.sort()
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                pairs.append((ids[x], ids[y], 0))
    return values_sql(
        pairs,
        [("image_a", "VARCHAR"), ("image_b", "VARCHAR"), ("hamming", "INTEGER")],
    )


# ---- audio_features ------------------------------------------------------


def audio_features_sql(n: int = 200, seed: int = 5, corrupt_frac: float = 0.02) -> str:
    import numpy as np

    rng = np.random.default_rng(seed)
    corrupt = set(rng.choice(n, size=int(n * corrupt_frac), replace=False).tolist())
    out = []
    for i in range(n):
        rate = int(rng.choice([8000, 16000, 44100]))
        n_samp = int(rng.integers(100, 2000))
        samples = rng.integers(-(1 << 14), 1 << 14, size=n_samp, dtype=np.int16)
        from great_expectations_spark.operators.multimodal import encode_audio

        data = encode_audio(samples, rate)
        if i in corrupt:
            data = data[: len(data) // 2]
        aid = f"aud-{i:08d}"
        try:
            r, s = _decode_audio(bytes(data))
            sf = s.astype(np.float64)
            rms = float(np.sqrt(np.mean(sf**2))) if len(sf) else 0.0
            zc = int(np.count_nonzero(np.diff(np.signbit(sf))))
            out.append((aid, True, len(s), zc, round(rms, 3)))
        except Exception:
            out.append((aid, False, None, None, None))
    return values_sql(
        out,
        [
            ("audio_id", "VARCHAR"),
            ("ok", "BOOLEAN"),
            ("n_samples", "INTEGER"),
            ("zero_crossings", "INTEGER"),
            ("rms", "DOUBLE"),
        ],
    )


# ---- video_frames --------------------------------------------------------


def video_frames_sql(
    n: int = 100, seed: int = 6, corrupt_frac: float = 0.02, every_n: int = 2
) -> str:
    import numpy as np

    from great_expectations_spark.operators.multimodal import encode_video
    from great_expectations_spark.functions.image_codec import encode_image

    rng = np.random.default_rng(seed)
    corrupt = set(rng.choice(n, size=int(n * corrupt_frac), replace=False).tolist())
    out = []
    for i in range(n):
        w = h = int(rng.integers(8, 17))
        n_frames = int(rng.integers(2, 9))
        frames = rng.integers(0, 256, size=(n_frames, h, w), dtype=np.uint8)
        data = encode_video(frames)
        if i in corrupt:
            data = data[: len(data) // 2]
        vid = f"vid-{i:08d}"
        try:
            decoded = _decode_video(bytes(data))
        except Exception:
            continue
        for idx in range(0, len(decoded), every_n):
            out.append((vid, idx, len(encode_image(decoded[idx], "png"))))
    return values_sql(
        out,
        [("video_id", "VARCHAR"), ("frame_idx", "INTEGER"), ("frame_size", "INTEGER")],
    )
