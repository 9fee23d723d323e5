"""Multimodal (image/audio/video) column plumbing.

Treats media as opaque ``binary`` columns + typed metadata structs. The
Spark-side contracts — schemas, Arrow batch shapes, mapInPandas
signatures, partition sizing — are real and tested. Image METADATA
decode is REAL: a pure-Python container-header parser handles
PNG/GIF/BMP/JPEG without any imaging library (``decode_image_header``),
with Pillow import-gated for full decodes of other formats. Pixel-level
feature extraction remains STUBBED with deterministic fakes (torch is
not a dependency), clearly marked below; video frames are not decoded.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

IMAGE_META_SCHEMA = (
    "doc_id long, media binary, width int, height int, format string"
)
IMAGE_FEATURES_SCHEMA = (
    "doc_id long, width int, height int, format string, feature array<float>"
)


def _decode_image_stub(payload: bytes) -> tuple[int, int, str]:
    """LAST-RESORT fake: deterministic dimensions from the payload hash,
    used only when the payload is not a recognizable image container and
    Pillow is unavailable (keeps pipelines total on dirty corpora)."""
    h = hashlib.sha256(payload or b"").digest()
    return 64 + h[0] % 192, 64 + h[1] % 192, ["JPEG", "PNG", "WEBP"][h[2] % 3]


def decode_image_header(payload: bytes) -> tuple[int, int, str] | None:
    """REAL container-header parse (pure Python, no Pillow needed):
    PNG / GIF / BMP / JPEG → (width, height, format), None if the bytes
    are not a recognized image container.

    - PNG: IHDR width/height, big-endian u32 at offsets 16/20.
    - GIF (87a/89a): logical screen size, little-endian u16 at 6/8.
    - BMP: BITMAPINFOHEADER i32 at 18/22 (height may be negative =
      top-down; reported as abs).
    - JPEG: walk the marker segments to the first SOFn frame header.
    """
    b = bytes(payload or b"")
    if b[:8] == b"\x89PNG\r\n\x1a\n" and len(b) >= 24:
        return (
            int.from_bytes(b[16:20], "big"),
            int.from_bytes(b[20:24], "big"),
            "PNG",
        )
    if b[:6] in (b"GIF87a", b"GIF89a") and len(b) >= 10:
        return (
            int.from_bytes(b[6:8], "little"),
            int.from_bytes(b[8:10], "little"),
            "GIF",
        )
    if b[:2] == b"BM" and len(b) >= 26:
        return (
            int.from_bytes(b[18:22], "little", signed=True),
            abs(int.from_bytes(b[22:26], "little", signed=True)),
            "BMP",
        )
    if b[:2] == b"\xff\xd8":
        i = 2
        while i + 9 <= len(b):
            if b[i] != 0xFF:
                i += 1
                continue
            marker = b[i + 1]
            # padding / standalone markers carry no length field
            if marker in (0xFF, 0x01) or 0xD0 <= marker <= 0xD9:
                i += 2
                continue
            seg_len = int.from_bytes(b[i + 2 : i + 4], "big")
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                return (
                    int.from_bytes(b[i + 7 : i + 9], "big"),
                    int.from_bytes(b[i + 5 : i + 7], "big"),
                    "JPEG",
                )
            i += 2 + seg_len
    return None


def _decode_image(payload: bytes) -> tuple[int, int, str]:
    """Decode order: pure-Python header parse → Pillow (import-gated full
    decode, covers WEBP/TIFF/...) → deterministic fake."""
    parsed = decode_image_header(payload)
    if parsed is not None:
        return parsed
    try:  # pragma: no cover - Pillow absent in this container
        import io

        from PIL import Image

        img = Image.open(io.BytesIO(payload))
        return img.width, img.height, img.format or "UNKNOWN"
    except Exception:
        return _decode_image_stub(payload)


def extract_image_metadata(df: DataFrame, media_col: str = "media") -> DataFrame:
    """binary column → (width, height, format) via Arrow-batched mapInPandas.

    Batches stream through; nothing accumulates on any single node, so
    partition count (not file count) bounds memory — at 100 TB, size input
    partitions with spark.sql.files.maxPartitionBytes as usual.
    """

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = pdf[media_col].map(lambda b: _decode_image(bytes(b or b"")))
            pdf = pdf.copy()
            pdf["width"] = meta.map(lambda t: t[0]).astype("int32")
            pdf["height"] = meta.map(lambda t: t[1]).astype("int32")
            pdf["format"] = meta.map(lambda t: t[2])
            yield pdf

    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields]
        + ["width int", "height int", "format string"]
    )
    return df.mapInPandas(decode, schema=out_schema)


def image_features(df: DataFrame, media_col: str = "media", dim: int = 8) -> DataFrame:
    """binary → fixed-dim float feature vector (STUB: hash-derived).

    Real implementation: a vision model forward pass per Arrow batch
    (the batch shape here is exactly what a torch/ONNX runner consumes).
    """

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            def vec(b: bytes) -> list[float]:
                h = hashlib.sha256(bytes(b or b"")).digest()
                return [h[i] / 255.0 for i in range(dim)]

            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "feature": pdf[media_col].map(lambda b: vec(b)),
                }
            )

    return df.mapInPandas(featurize, schema=f"doc_id long, feature array<float>")


def decode_wav_header(payload: bytes) -> tuple[int, int, int, int] | None:
    """REAL RIFF/WAVE header parse (pure Python, no audio library):
    returns (n_channels, sample_rate, bits_per_sample, n_frames) or None
    when the payload is not a WAV container. n_frames derives from the
    data-chunk size field, so a metadata-only payload (header without
    sample bytes) still reports its declared length — the normal case
    for catalog scans that never fetch full media."""
    b = payload or b""
    if len(b) < 12 or b[0:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    pos = 12
    fmt = None
    data_size = None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        csize = int.from_bytes(b[pos + 4 : pos + 8], "little")
        if cid == b"fmt " and pos + 24 <= len(b):
            n_channels = int.from_bytes(b[pos + 10 : pos + 12], "little")
            sample_rate = int.from_bytes(b[pos + 12 : pos + 16], "little")
            bits = int.from_bytes(b[pos + 22 : pos + 24], "little")
            fmt = (n_channels, sample_rate, bits)
        elif cid == b"data":
            data_size = csize
        pos += 8 + csize + (csize % 2)  # chunks are word-aligned
        if fmt is not None and data_size is not None:
            break
    if fmt is None or data_size is None:
        return None
    n_channels, sample_rate, bits = fmt
    frame_bytes = max(1, n_channels * (bits // 8))
    return n_channels, sample_rate, bits, data_size // frame_bytes


def extract_audio_metadata(df: DataFrame, media_col: str = "media") -> DataFrame:
    """binary column → (n_channels, sample_rate, bits_per_sample,
    n_frames, duration_sec) via Arrow-batched mapInPandas; non-WAV
    payloads yield nulls (dirty corpora stay total). Same streaming
    batch shape as extract_image_metadata."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = pdf[media_col].map(
                lambda b: decode_wav_header(bytes(b or b""))
            )
            pdf = pdf.copy()
            pdf["n_channels"] = meta.map(lambda t: t and t[0]).astype("Int32")
            pdf["sample_rate"] = meta.map(lambda t: t and t[1]).astype("Int32")
            pdf["bits_per_sample"] = meta.map(lambda t: t and t[2]).astype(
                "Int32"
            )
            pdf["n_frames"] = meta.map(lambda t: t and t[3]).astype("Int64")
            # full precision; report layers round JVM-side (Python's
            # round() is banker's — mismatches SQL HALF_UP at .5 digits)
            pdf["duration_sec"] = [
                t[3] / t[1] if t and t[1] else None for t in meta
            ]
            yield pdf

    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields]
        + [
            "n_channels int", "sample_rate int", "bits_per_sample int",
            "n_frames long", "duration_sec double",
        ]
    )
    return df.mapInPandas(decode, schema=out_schema)


def decode_avi_header(payload: bytes) -> tuple[int, int, int, float, int] | None:
    """REAL RIFF/AVI main-header parse (pure Python, no video library):
    returns (width, height, n_frames, fps, n_streams) or None when the
    payload is not an AVI container. Walks RIFF chunks to the 'avih'
    (MainAVIHeader) chunk — LIST containers are entered, leaf chunks
    skipped — so the parse is linear in header size and never touches
    frame data; a metadata-only payload (header without movi data) still
    reports its declared geometry, the normal case for catalog scans.
    Completes the image (PNG/GIF/BMP/JPEG) + audio (WAV) + video triad;
    reference parity: the media-metadata arm of
    src/transform/transform_engine.py's multimodal step."""
    b = payload or b""
    if len(b) < 12 or b[0:4] != b"RIFF" or b[8:12] != b"AVI ":
        return None
    pos = 12
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        csize = int.from_bytes(b[pos + 4 : pos + 8], "little")
        if cid == b"LIST":
            pos += 12  # descend into the list (skip its 4-byte type tag)
            continue
        if cid == b"avih" and pos + 8 + 40 <= len(b):
            h = b[pos + 8 :]
            usec_per_frame = int.from_bytes(h[0:4], "little")
            n_frames = int.from_bytes(h[16:20], "little")
            n_streams = int.from_bytes(h[24:28], "little")
            width = int.from_bytes(h[32:36], "little")
            height = int.from_bytes(h[36:40], "little")
            fps = 1_000_000 / usec_per_frame if usec_per_frame else 0.0
            return width, height, n_frames, fps, n_streams
        pos += 8 + csize + (csize % 2)  # leaf chunks are word-aligned
    return None


def extract_video_metadata(df: DataFrame, media_col: str = "media") -> DataFrame:
    """binary column → (width, height, n_frames, fps, duration_sec,
    n_streams) via Arrow-batched mapInPandas; non-AVI payloads yield
    nulls (dirty corpora stay total). Same streaming batch shape as the
    image/audio extractors — rows never leave the executor."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = pdf[media_col].map(
                lambda b: decode_avi_header(bytes(b or b""))
            )
            pdf = pdf.copy()
            pdf["width"] = meta.map(lambda t: t and t[0]).astype("Int32")
            pdf["height"] = meta.map(lambda t: t and t[1]).astype("Int32")
            pdf["n_frames"] = meta.map(lambda t: t and t[2]).astype("Int64")
            pdf["fps"] = [t[3] if t else None for t in meta]
            pdf["duration_sec"] = [
                t[2] / t[3] if t and t[3] else None for t in meta
            ]
            pdf["n_streams"] = meta.map(lambda t: t and t[4]).astype("Int32")
            yield pdf

    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields]
        + [
            "width int", "height int", "n_frames long", "fps double",
            "duration_sec double", "n_streams int",
        ]
    )
    return df.mapInPandas(decode, schema=out_schema)


def pair_alignment_scores(
    df: DataFrame,
    media_col: str = "media",
    caption_col: str = "caption",
    out: str = "alignment_score",
    model: "str | None" = None,
) -> DataFrame:
    """CLIP-style image↔caption alignment score per pair in [0, 1).

    The Spark-side contract is real — Arrow-batched mapInPandas, schema
    passthrough + one double column, partition-bounded memory — exactly
    the shape a torch/ONNX CLIP runner drops into. With ``model=None``
    (this container has no vision libs) the score is a DETERMINISTIC
    fake both engines can replay: the first 8 hex digits of
    ``md5(upper_hex(media) || '|' || caption)`` scaled to [0, 1),
    rounded to 9 decimals — the same md5-uniform idiom as
    ops/corpus.py::md5_uniform, applied to the (bytes, text) pair.

    Passing a model name raises NotImplementedError with the batch
    contract, mirroring the stub convention of :func:`image_features`.
    """
    if model is not None:
        raise NotImplementedError(
            "real CLIP scoring needs a vision runtime (torch/onnxruntime); "
            "plug the model's forward pass into the mapInPandas body — "
            "batches arrive as pandas DataFrames with raw bytes in "
            f"'{media_col}' and text in '{caption_col}'"
        )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            def s(b: bytes, c: "str | None") -> float:
                hexs = bytes(b or b"").hex().upper()
                h = hashlib.md5(
                    (hexs + "|" + (c or "")).encode("utf-8")
                ).hexdigest()
                return round(int(h[:8], 16) / 16 ** 8, 9)

            pdf = pdf.copy()
            pdf[out] = [
                s(b, c) for b, c in zip(pdf[media_col], pdf[caption_col])
            ]
            yield pdf

    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields]
        + [f"{out} double"]
    )
    return df.mapInPandas(score, schema=out_schema)


def filter_aligned_pairs(
    df: DataFrame,
    media_col: str = "media",
    caption_col: str = "caption",
    threshold: float = 0.3,
    model: "str | None" = None,
) -> DataFrame:
    """Keep image-text pairs whose alignment score clears ``threshold``
    (the LAION-style cosine-threshold curation step). Scoring + filter
    stay one lazy plan; the filter runs on the mapInPandas output
    stream, so dropped pairs never leave the executor."""
    scored = pair_alignment_scores(
        df, media_col=media_col, caption_col=caption_col, model=model
    )
    return scored.filter(F.col("alignment_score") >= F.lit(float(threshold)))
