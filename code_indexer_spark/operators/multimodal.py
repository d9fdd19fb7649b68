"""Multimodal columns: images/audio/video as opaque binary + typed
metadata (E5 routing in SURVEY.md §2.3; reference multimodal pipeline
file_chunking_manager.py:482-778, image validation
image_extractor.py:69-122).

PNG decode and resize are REAL (pure-stdlib baseline-PNG codec,
kernel/png.py — zlib + struct, all five scanline filters): PNG content
is decoded to actual pixels and featured/resized from them. Header
GEOMETRY is real for all four crawl formats — JPEG SOF walk, GIF
screen descriptor, WebP VP8X/VP8/VP8L, PNG IHDR (kernel/jpeg.py;
``image_dims_stage``). Full PIXEL decode for jpeg/webp/gif still
needs system codecs absent from this container, so for those
`decode_image` raises NotImplementedError unless
`deterministic_fake=True`, in which case it produces a seeded fake
feature tensor from the bytes' md5 — the Spark-side plumbing (schemas,
Arrow batch shape, partitioning, routing) is real and tested
either way.

Asset table schema (what a 100 TB crawl would carry):
  assets(url, asset_path, kind, content binary, content_len, fmt)
"""

from __future__ import annotations

import hashlib
import struct
import zlib
import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType, BinaryType, BooleanType, FloatType, IntegerType, LongType,
    StringType, StructField, StructType,
)

from ..util import arrow_rows

ASSET_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("asset_path", StringType()),
        StructField("kind", StringType()),
        StructField("content", BinaryType()),
        StructField("content_len", LongType()),
        StructField("fmt", StringType()),
    ]
)

FEATURE_DIM = 16


def decode_image(content: bytes, deterministic_fake: bool = False) -> np.ndarray:
    """PNG: REAL decode via the pure-stdlib kernel (kernel/png.py) —
    16-dim feature = per-channel mean/std (padded to 4 channels) + the
    normalized 8-bin grayscale histogram, unit-normalized. Other
    formats (jpeg/webp/gif codecs absent here) keep the STUB contract:
    NotImplementedError, or with deterministic_fake=True a seeded
    md5-derived 16-float vector."""
    from ..kernel.png import decode_png, image_stats, sniff_format

    if sniff_format(content) == "png":
        st = image_stats(decode_png(content))
        mean = (st["mean"] + [0.0] * 4)[:4]
        std = (st["std"] + [0.0] * 4)[:4]
        n_px = float(st["width"] * st["height"]) or 1.0
        hist = [h / n_px for h in st["gray_hist"]]
        v = np.array(mean + std + hist, dtype=np.float32)
        v = v - v.mean()
        n = float(np.sqrt((v * v).sum()))
        return (v / n if n > 0 else v).astype(np.float32)
    if not deterministic_fake:
        raise NotImplementedError(
            "non-PNG image decode requires system codecs (not in this "
            "container); pass deterministic_fake=True for the "
            "plumbing-test path"
        )
    d = hashlib.md5(content or b"").digest()
    v = np.frombuffer(d, dtype=np.uint8).astype(np.float32)
    v = v - v.mean()
    n = float(np.sqrt((v * v).sum()))
    return (v / n if n > 0 else v).astype(np.float32)


def route_multimodal(extracted_pages: DataFrame) -> tuple[DataFrame, DataFrame]:
    """E5 routing: pages with images[] branch to the multimodal pipeline;
    text-only pages stay on the text path (reference:
    file_chunking_manager.py:482-499)."""
    with_imgs = extracted_pages.filter(F.size("images") > 0)
    text_only = extracted_pages.filter(F.size("images") == 0)
    return text_only, with_imgs


def synth_assets(extracted_pages: DataFrame) -> DataFrame:
    """Derive an assets table from extracted image paths: content is a
    deterministic per-path fake payload (md5-seeded) standing in for the
    fetched bytes; real crawls join against a WARC asset store."""
    exploded = extracted_pages.select(
        "url", F.explode("images").alias("asset_path")
    )
    return exploded.select(
        "url",
        "asset_path",
        F.lit("image").alias("kind"),
        F.to_binary(F.md5("asset_path"), F.lit("hex")).alias("content"),
        F.length(F.to_binary(F.md5("asset_path"), F.lit("hex")))
        .cast("long").alias("content_len"),
        F.lower(F.regexp_extract("asset_path", r"\.([A-Za-z0-9]+)$", 1))
        .alias("fmt"),
    )


FEATURES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("asset_path", StringType()),
        StructField("fmt", StringType()),
        StructField("n_bytes", IntegerType()),
        StructField("features", ArrayType(FloatType())),
        StructField("decode_error", StringType()),
    ]
)

# the per-asset failure modes a crawl's corrupt bytes can raise out of
# the pure-stdlib PNG path — anything else is a code bug and SHOULD
# fail the task
_DECODE_ERRORS = (ValueError, NotImplementedError, zlib.error, struct.error)


def image_features_stage(assets: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary content — the real
    Arrow batch shape a GPU/CPU decode stage would use (batched bytes
    in, fixed-dim float vectors out). Non-PNG formats get
    ``decode_image``'s md5-seeded fake features (codecs absent).

    Per-asset decode failures (truncated/interlaced/16-bit PNGs — a
    100 TB crawl always carries some) must NOT fail the task: the row
    survives with features=NULL and the exception in ``decode_error``,
    the skip_reason discipline of validate_assets applied to decode."""

    def rows(url, path, fmt, c):
        try:
            feats = decode_image(c, deterministic_fake=True).tolist()
            err = None
        except _DECODE_ERRORS as exc:
            feats, err = None, f"{type(exc).__name__}: {exc}"
        return [(url, path, fmt, len(c or b""), feats, err)]

    return arrow_rows(assets.filter(F.col("kind") == "image"),
                      ["url", "asset_path", "fmt", "content"],
                      FEATURES_SCHEMA, lambda: rows)


DIMS_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("asset_path", StringType()),
        StructField("fmt", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("components", IntegerType()),
        StructField("bit_depth", IntegerType()),
        StructField("progressive", BooleanType()),
        StructField("decode_error", StringType()),
    ]
)


def image_dims_stage(assets: DataFrame) -> DataFrame:
    """REAL header-only geometry extraction for all four crawl image
    formats (VERDICT r4 item 6): PNG IHDR, JPEG SOF marker walk, GIF
    logical-screen descriptor, WebP VP8X/VP8/VP8L — pure stdlib,
    O(header bytes) per asset regardless of image size
    (kernel/jpeg.py, kernel/png.py). Routing is by magic-byte sniff,
    never the extension column. Corrupt/truncated/unrecognized bytes
    survive as rows with NULL geometry and the exception in
    ``decode_error`` — the skip_reason discipline of validate_assets
    applied to header parsing. Reference analog: dimension validation
    in indexing/image_extractor.py:69-122 (PIL's ``.size`` is the same
    lazy header read)."""
    geometry = ("width", "height", "components", "bit_depth", "progressive")

    def make_rows():
        from ..kernel.jpeg import (
            parse_gif_header, parse_jpeg_header, parse_webp_header,
        )
        from ..kernel.png import parse_png_header, sniff_format

        parsers = {"png": parse_png_header, "jpeg": parse_jpeg_header,
                   "gif": parse_gif_header, "webp": parse_webp_header}

        def rows(url, path, fmt, c):
            sniffed = sniff_format(c)
            try:
                if sniffed is None:
                    raise ValueError("unrecognized image magic")
                hdr = parsers[sniffed](c)
                err = None
            except _DECODE_ERRORS as exc:
                hdr = dict.fromkeys(geometry)
                err = f"{type(exc).__name__}: {exc}"
            w, h, comp, depth, prog = (hdr[k] for k in geometry)
            return [(url, path, fmt, w, h, comp, depth,
                     None if prog is None else bool(prog), err)]

        return rows

    return arrow_rows(assets.filter(F.col("kind") == "image"),
                      ["url", "asset_path", "fmt", "content"],
                      DIMS_SCHEMA, make_rows)


def validate_assets(assets: DataFrame,
                    max_bytes: int = 10 * 1024 * 1024) -> DataFrame:
    """P5 image validation as columns: format allowlist + size cap,
    skip_reason enum per image_extractor.py:69-122 (existence/boundary
    checks are upstream in path resolution). For content-level checks
    (real dimensions, corrupt-byte detection) compose with
    ``image_dims_stage`` — header-only, so it scales to validation
    sweeps where full decode would be prohibitive."""
    ok_fmt = F.col("fmt").isin("png", "jpg", "jpeg", "webp", "gif")
    reason = (
        F.when(~ok_fmt, F.lit("unsupported_format"))
        .when(F.col("content_len") > max_bytes, F.lit("oversized"))
        .otherwise(F.lit(None).cast("string"))
    )
    return assets.withColumn("skip_reason", reason).withColumn(
        "is_valid", F.col("skip_reason").isNull()
    )


RESIZED_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("asset_path", StringType()),
        StructField("fmt", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("content", BinaryType()),
        StructField("decode_error", StringType()),
    ]
)


def resize_images_stage(assets: DataFrame, width: int = 224,
                        height: int = 224) -> DataFrame:
    """Resize as a 1:1 Arrow row stage: binary in, binary out plus
    (width, height) metadata — the batch shape a PIL/opencv resize
    would use. PNG content takes the REAL path: stdlib decode →
    nearest-neighbor resample → stdlib re-encode (kernel/png.py).
    Other formats keep the stub contract (codecs absent): the output
    is md5(content | w | h)-seeded bytes, so the stage stays
    deterministic and the downstream schema/partitioning is real. A PNG-magic asset whose
    body is corrupt (truncated/interlaced/16-bit) survives as a row
    with content=NULL and the exception in ``decode_error`` — one bad
    asset must never fail the task."""

    def _resize_png(content: bytes, w: int, h: int) -> bytes:
        from ..kernel.png import decode_png, encode_png

        px = decode_png(content)
        src_h, src_w = px.shape[:2]
        ys = np.minimum((np.arange(h) * src_h) // h, src_h - 1)
        xs = np.minimum((np.arange(w) * src_w) // w, src_w - 1)
        return encode_png(px[ys][:, xs])

    def make_rows():
        from ..kernel.png import sniff_format

        def rows(url, path, fmt, c):
            err = None
            if sniff_format(c) == "png":
                try:
                    out_bytes = _resize_png(c, width, height)
                except _DECODE_ERRORS as exc:
                    out_bytes = None
                    err = f"{type(exc).__name__}: {exc}"
            else:
                out_bytes = hashlib.md5(
                    (c or b"") + f"|{width}x{height}".encode()).digest()
            return [(url, path, fmt, width, height, out_bytes, err)]

        return rows

    return arrow_rows(assets.filter(F.col("kind") == "image"),
                      ["url", "asset_path", "fmt", "content"],
                      RESIZED_SCHEMA, make_rows)


FRAMES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("asset_path", StringType()),
        StructField("frame_index", IntegerType()),
        StructField("ts_offset_s", FloatType()),
        StructField("frame", BinaryType()),
    ]
)


def sample_frames_stage(assets: DataFrame, fps: float = 0.5,
                        max_frames: int = 16) -> DataFrame:
    """Video frame sampling as a ROW-EXPANDING Arrow row stage: one
    input video row -> up to max_frames frame rows at 1/fps-second
    spacing. The decode is STUBBED (no ffmpeg here): fake duration =
    (content_len % 120) + 1 seconds, frame bytes md5(content | index) —
    deterministic, so the expansion factor, Arrow batch shape, and the
    downstream per-frame feature join are all real and testable. At
    scale this is the stage that dominates bytes: partition the assets
    table by bucket(url) so one hot site cannot pin an executor."""

    def make_rows():
        def rows(url, path, content):
            c = content or b""
            duration_s = (len(c) % 120) + 1
            n = min(max_frames, max(1, int(duration_s * fps)))
            for i in range(n):
                yield (url, path, i, float(i / fps),
                       hashlib.md5(c + f"|frame{i}".encode()).digest())

        return rows

    return arrow_rows(assets.filter(F.col("kind") == "video"),
                      ["url", "asset_path", "content"],
                      FRAMES_SCHEMA, make_rows)
