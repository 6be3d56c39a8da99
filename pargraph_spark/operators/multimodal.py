"""Multimodal columns: opaque binary payloads + typed metadata.

Images/audio/video are carried as ``binary`` columns with a metadata
struct; decode / feature-extraction runs as Arrow-batched mapInPandas so
payload bytes cross to Python once per batch, never per row.

decode_image is REAL for the dependency-free raster formats (24-bit
uncompressed BMP, binary PPM/P6) via pure-Python+numpy decoders with
deterministic nearest-neighbor resize — exact pixel-hash tested. Codec
formats (JPEG/PNG/...) fall back to PIL when importable and raise
NotImplementedError otherwise (this container ships no PIL/ffmpeg).
extract_binary_features is a deterministic featureizer (length, md5,
head bytes) for codec-free pipelines.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, "
    "meta struct<n_bytes: long, declared_format: string>"
)
FEATURES_SCHEMA = "media_id long, n_bytes long, digest string, head_hex string"


def to_media_table(df: DataFrame, id_col: str, payload_col: str, kind: str = "blob") -> DataFrame:
    """Wrap an arbitrary binary column as a typed media table."""
    p = F.col(payload_col)
    return df.select(
        F.col(id_col).alias("media_id"),
        F.lit(kind).alias("kind"),
        p.alias("payload"),
        F.struct(
            F.length(p).cast("long").alias("n_bytes"),
            F.lit(kind).alias("declared_format"),
        ).alias("meta"),
    )


def _feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = {"media_id": pdf["media_id"], "n_bytes": [], "digest": [], "head_hex": []}
        for payload in pdf["payload"]:
            b = bytes(payload) if payload is not None else b""
            out["n_bytes"].append(len(b))
            out["digest"].append(hashlib.md5(b).hexdigest())
            out["head_hex"].append(b[:8].hex())
        yield pd.DataFrame(out)


def extract_binary_features(media: DataFrame) -> DataFrame:
    """Deterministic per-payload features via ONE Arrow crossing."""
    return media.select("media_id", "payload").mapInPandas(
        _feature_batches, schema=FEATURES_SCHEMA
    )


# ---- image decode: real for BMP/PPM, PIL/raise for codec formats --------

def decode_bmp(b: bytes) -> tuple[int, int, bytes]:
    """Decode a 24-bit uncompressed (BI_RGB) BMP → (width, height, RGB
    row-major bytes). Pure Python + numpy; handles bottom-up and top-down
    rows and 4-byte row padding. Other bit depths / compressions raise."""
    if b[:2] != b"BM":
        raise ValueError("not a BMP payload")
    pixel_off = int.from_bytes(b[10:14], "little")
    hdr_size = int.from_bytes(b[14:18], "little")
    if hdr_size < 40:
        raise NotImplementedError("BITMAPCOREHEADER BMPs unsupported")
    w = int.from_bytes(b[18:22], "little", signed=True)
    h = int.from_bytes(b[22:26], "little", signed=True)
    bpp = int.from_bytes(b[28:30], "little")
    comp = int.from_bytes(b[30:34], "little")
    if bpp != 24 or comp != 0:
        raise NotImplementedError(f"only 24-bit BI_RGB BMPs (got bpp={bpp}, comp={comp})")
    top_down, H = h < 0, abs(h)
    stride = (w * 3 + 3) & ~3
    raw = np.frombuffer(b, dtype=np.uint8, count=H * stride, offset=pixel_off)
    rows = raw.reshape(H, stride)[:, : w * 3].reshape(H, w, 3)
    if not top_down:
        rows = rows[::-1]
    return w, H, rows[:, :, ::-1].tobytes()  # BGR → RGB


def decode_ppm(b: bytes) -> tuple[int, int, bytes]:
    """Decode a binary PPM (P6, maxval ≤ 255) → (width, height, RGB bytes).
    Header tokens may be separated by whitespace/comments per the spec."""
    if b[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    pos, tokens = 2, []
    while len(tokens) < 3:
        while pos < len(b) and b[pos : pos + 1].isspace():
            pos += 1
        if b[pos : pos + 1] == b"#":
            while pos < len(b) and b[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(b) and not b[pos : pos + 1].isspace():
            pos += 1
        tokens.append(int(b[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = tokens
    if maxval > 255:
        raise NotImplementedError("16-bit PPMs unsupported")
    return w, h, bytes(b[pos : pos + w * h * 3])


def _nearest_resize(w: int, h: int, rgb: bytes, tw: int, th: int) -> bytes:
    """Deterministic nearest-neighbor resize (floor index map — the same
    pixel is always picked for a given (size, target))."""
    a = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
    ys = (np.arange(th) * h) // th
    xs = (np.arange(tw) * w) // tw
    return a[ys][:, xs].tobytes()


def decode_payload(b: bytes) -> tuple[int, int, bytes]:
    """Sniff + decode one payload. BMP and PPM decode dependency-free;
    anything else needs PIL and raises NotImplementedError without it."""
    if b[:2] == b"BM":
        return decode_bmp(b)
    if b[:2] == b"P6":
        return decode_ppm(b)
    try:
        from PIL import Image
    except ImportError as e:
        raise NotImplementedError(
            "codec formats require PIL; BMP/PPM decode dependency-free — "
            "use extract_binary_features for codec-free pipelines"
        ) from e
    import io  # pragma: no cover - env without PIL

    img = Image.open(io.BytesIO(b)).convert("RGB")  # pragma: no cover
    return img.width, img.height, img.tobytes()  # pragma: no cover


def decode_image(media: DataFrame, target_size: tuple[int, int] = (64, 64)) -> DataFrame:
    """mapInPandas over (media_id, payload) → (media_id, width int,
    height int, pixels binary): decode + deterministic nearest-neighbor
    resize to target_size. width/height are the DECODED dims; pixels are
    the resized RGB bytes (len = target_w × target_h × 3)."""
    schema = "media_id long, width int, height int, pixels binary"
    tw, th = target_size

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"media_id": pdf["media_id"], "width": [], "height": [], "pixels": []}
            for payload in pdf["payload"]:
                if payload is None:
                    # NULL payload (failed fetch upstream): null row, not
                    # a worker TypeError that kills the whole job — the
                    # guard the sibling kernels have
                    rows["width"].append(None)
                    rows["height"].append(None)
                    rows["pixels"].append(None)
                    continue
                w, h, rgb = decode_payload(bytes(payload))
                rows["width"].append(w)
                rows["height"].append(h)
                rows["pixels"].append(_nearest_resize(w, h, rgb, tw, th))
            yield pd.DataFrame(rows)

    return media.select("media_id", "payload").mapInPandas(kernel, schema=schema)


def fake_decode_features(media: DataFrame, dim: int = 8) -> DataFrame:
    """Deterministic FAKE embedding per payload (md5-seeded floats in
    [0,1)) — stands in for a real image/audio encoder so downstream
    similarity plumbing is testable end-to-end. Clearly not a real model."""
    schema = f"media_id long, feat array<float>"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, feats = [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                d = hashlib.md5(b).digest()
                feats.append([d[i % 16] / 256.0 for i in range(dim)])
                ids.append(mid)
            yield pd.DataFrame({"media_id": ids, "feat": feats})

    return media.select("media_id", "payload").mapInPandas(kernel, schema=schema)
