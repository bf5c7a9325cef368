"""Multimodal column plumbing: images/audio/video as opaque ``binary``
columns with typed metadata, processed through ``mapInPandas``.

The Spark-side plumbing (schemas, batch shapes, partitioning, UDF
signatures) is real and tested; the codec step is STUBBED behind
deterministic fakes because the container ships no image/audio
libraries — each stub documents the production swap-in
(Pillow/torchvision/ffmpeg) and raises ``NotImplementedError`` when
``strict=True``.

The PDF image-carving path (M4, PdfToText.php:2693–2728) feeds this:
``carve_images`` turns extracted per-turn image bytes into one row per
image with sniffed format metadata — JPEG bytes pass through DCTDecode
untouched exactly like the reference (PdfToText.php:8793–8805).
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pdftotext_spark.core.dispatch import extract_payload
from pdftotext_spark.core.document import ExtractOptions
from pdftotext_spark.functions.extract import map_rows

IMAGE_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("image_idx", T.IntegerType()),
        T.StructField("data", T.BinaryType()),
        T.StructField("meta", T.BinaryType()),  # image object dict
        T.StructField("format", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sha256", T.StringType()),
        # 64-bit perceptual average-hash for decodable rasters (None
        # for codec formats this container cannot decode)
        T.StructField("phash", T.LongType()),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("image_idx", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)

FEATURE_DIM = 16

_IMAGE_OPTIONS = ExtractOptions(want_images=True)


_RASTER_META_RE = {
    "width": re.compile(rb"/Width\s+(\d+)"),
    "height": re.compile(rb"/Height\s+(\d+)"),
    "bpc": re.compile(rb"/BitsPerComponent\s+(\d+)"),
    "cs": re.compile(rb"/ColorSpace\s*/(\w+)"),
}

_CS_COMPONENTS = {"DeviceRGB": 3, "DeviceGray": 1, "DeviceCMYK": 4}


def decode_raster(dict_part: bytes, data: bytes):
    """Decode a Flate-inlined raster image XObject to an RGB8 numpy
    array (M4, PdfToText.php:8815–9208 — the reference's pixel-by-pixel
    GD loops vectorized with numpy; CMYK→RGB per the same formula).

    Returns ``(height, width, rgb_ndarray)`` or ``None`` when the
    object is not a supported 8-bit raster.
    """
    import numpy as np

    def _int(key: str) -> int | None:
        m = _RASTER_META_RE[key].search(dict_part)
        return int(m.group(1)) if m else None

    w, h, bpc = _int("width"), _int("height"), _int("bpc")
    csm = _RASTER_META_RE["cs"].search(dict_part)
    cs = csm.group(1).decode() if csm else None
    ncomp = _CS_COMPONENTS.get(cs or "", None)
    if not w or not h or bpc != 8 or ncomp is None:
        return None
    if len(data) < w * h * ncomp:
        return None
    arr = np.frombuffer(data[: w * h * ncomp], dtype=np.uint8).reshape(h, w, ncomp)
    if ncomp == 1:
        rgb = np.repeat(arr, 3, axis=2)
    elif ncomp == 3:
        rgb = arr.copy()
    else:  # CMYK → RGB: c' = 255−min(255, c+k) (PdfToText.php:9150–9180)
        c = arr[:, :, 0].astype(np.uint16)
        m = arr[:, :, 1].astype(np.uint16)
        y = arr[:, :, 2].astype(np.uint16)
        k = arr[:, :, 3].astype(np.uint16)
        rgb = np.stack(
            [
                255 - np.minimum(255, c + k),
                255 - np.minimum(255, m + k),
                255 - np.minimum(255, y + k),
            ],
            axis=2,
        ).astype(np.uint8)
    return h, w, rgb


def ahash64(rgb) -> int:
    """64-bit perceptual *average hash*: grayscale → 8×8 block means →
    bit i set iff cell i is brighter than the global cell mean. The
    classic cheap near-dup fingerprint (robust to small pixel noise,
    re-encoding and minor resizes); pure numpy — no codec needed, so
    it runs on every raster :func:`decode_raster` handles."""
    import numpy as np

    gray = rgb.astype(np.float64).mean(axis=2)
    h, w = gray.shape
    yb = np.linspace(0, h, 9).astype(int)
    xb = np.linspace(0, w, 9).astype(int)
    cells = np.empty((8, 8))
    for i in range(8):
        y0, y1 = yb[i], max(yb[i + 1], yb[i] + 1)
        for j in range(8):
            x0, x1 = xb[j], max(xb[j + 1], xb[j] + 1)
            cells[i, j] = gray[min(y0, h - 1) : min(y1, h), min(x0, w - 1) : min(x1, w)].mean()
    bits = (cells > cells.mean()).flatten()
    val = 0
    for k, b in enumerate(bits):
        if b:
            val |= 1 << k
    # keep within signed 64 for Spark LongType
    return val - (1 << 64) if val >= (1 << 63) else val


def sniff_format(data: bytes) -> str:
    if data[:3] == b"\xff\xd8\xff":
        return "jpeg"
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if data[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
        return "webp"
    return "raw"


def carve_image_rows(text: str | None) -> list[tuple]:
    """Row function of :func:`carve_images`: one row per image XObject
    (M4) of the turn's payload."""
    res = extract_payload(text or "", _IMAGE_OPTIONS)
    rows = []
    for i, data in enumerate(res.image_bytes):
        meta = res.image_dicts[i] if i < len(res.image_dicts) else b""
        decoded = decode_raster(meta, data) if meta else None
        phash = ahash64(decoded[2]) if decoded is not None else None
        rows.append(
            (i, data, meta, sniff_format(data), len(data), hashlib.sha256(data).hexdigest(), phash)
        )
    return rows


def carve_images(transcripts: DataFrame) -> DataFrame:
    return map_rows(transcripts, ["conv_id", "turn_idx"], ["text"], IMAGE_SCHEMA, carve_image_rows)


def decode_image(data: bytes, strict: bool = False) -> tuple[int, int, list[float]]:
    """STUB — production: Pillow decode + torchvision feature extract.

    The deterministic fake derives (width, height, feature[16]) from a
    sha256 of the bytes so downstream plumbing (schema, batch shape,
    joins on feature vectors) is fully exercisable and reproducible.
    """
    if strict:
        raise NotImplementedError(
            "image codecs not available in this container; install "
            "Pillow and replace decode_image"
        )
    h = hashlib.sha256(data).digest()
    width = 16 + h[0] % 240
    height = 16 + h[1] % 240
    feature = [round(b / 255.0, 6) for b in h[2 : 2 + FEATURE_DIM]]
    return width, height, feature


def image_feature_rows(data: bytes) -> list[tuple]:
    return [decode_image(bytes(data))]


def image_features(images: DataFrame) -> DataFrame:
    """images (IMAGE_SCHEMA) → per-image (width, height, feature[16]).
    Dedup-ready: join on sha256 first so each distinct image decodes
    once (the 100 TB shape: decode cost ∝ distinct images)."""
    return map_rows(
        images.dropDuplicates(["sha256"]),
        ["conv_id", "turn_idx", "image_idx"],
        ["data"],
        FEATURE_SCHEMA,
        image_feature_rows,
    )


def exact_image_dedup(images: DataFrame) -> DataFrame:
    """Exact multimodal dedup on content digest (groupBy sha256)."""
    return images.groupBy("sha256", "format").agg(
        F.count("*").cast("long").alias("n_copies"),
        F.min("n_bytes").cast("long").alias("n_bytes"),
    )


def perceptual_image_dedup(images: DataFrame) -> DataFrame:
    """Near-duplicate image groups on the 64-bit average hash: images
    that differ by re-encoding or pixel noise share a phash even when
    their sha256 differs. One hash-groupBy — the same scale shape as
    exact dedup, since the perceptual work happened row-local during
    carving."""
    return (
        images.filter(F.col("phash").isNotNull())
        .groupBy("phash")
        .agg(
            F.count("*").cast("long").alias("n_copies"),
            F.countDistinct("sha256").cast("long").alias("n_distinct_bytes"),
        )
    )
