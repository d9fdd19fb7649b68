"""Pure-stdlib PNG codec (VERDICT r3 item 4: un-stub one multimodal
decoder without PIL).

Decodes baseline 8-bit PNGs — color types 0 (gray), 2 (RGB),
3 (palette), 4 (gray+alpha), 6 (RGBA), all five scanline filters
(None/Sub/Up/Average/Paeth per the PNG spec §9) — using only
``zlib`` + ``struct`` + numpy. Interlaced (Adam7) and 16-bit images
raise NotImplementedError; at production scale decode runs in a native
library on the executors and this kernel is the verification reference.

Reference analog: image validation/extraction,
indexing/image_extractor.py:69-122 (the reference shells out to PIL;
this is an independent implementation from the public PNG spec).

``encode_png`` exists for fixtures/tests: it writes real spec-valid
PNGs (any of the five filters per row) so the decoder's filter paths
are round-trip testable without third-party imagery.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def sniff_format(content: bytes) -> str | None:
    """Magic-byte container sniff — the decode dispatch in
    operators.multimodal (decode_image / resize_images_stage) routes on
    this, not on the filename extension; returns the canonical format
    token or None if unrecognized."""
    c = content or b""
    if c.startswith(PNG_MAGIC):
        return "png"
    if c.startswith(b"\xff\xd8\xff"):
        return "jpeg"
    if c.startswith(b"GIF87a") or c.startswith(b"GIF89a"):
        return "gif"
    if len(c) >= 12 and c[:4] == b"RIFF" and c[8:12] == b"WEBP":
        return "webp"
    return None


def parse_png_header(content: bytes) -> dict:
    """IHDR-only geometry read (the PNG twin of jpeg.parse_jpeg_header
    — O(33 bytes) regardless of image size, for validation stages that
    must not pay a full decode)."""
    c = content or b""
    if not c.startswith(PNG_MAGIC):
        raise ValueError("not a PNG (bad magic)")
    for ctype, body in _chunks(c):
        if ctype != b"IHDR":
            raise ValueError("first chunk is not IHDR")
        if len(body) != 13:
            raise ValueError("bad IHDR length")
        width, height, bit_depth, color_type, _comp, _filt, interlace = \
            struct.unpack(">IIBBBBB", body)
        if width == 0 or height == 0:
            raise ValueError("zero dimension")
        # PNG spec caps dims at 2^31-1; a larger (corrupt/adversarial)
        # value must become a decode_error ROW, not an int64 that later
        # kills a whole batch's int32 conversion in image_dims_stage
        if width > 0x7FFFFFFF or height > 0x7FFFFFFF:
            raise ValueError("dimension exceeds PNG 2^31-1 bound")
        if color_type not in _CHANNELS:
            raise ValueError(f"bad color type {color_type}")
        return {
            "width": width,
            "height": height,
            # palette type 3 resolves to RGB on decode
            "components": 3 if color_type == 3 else _CHANNELS[color_type],
            "bit_depth": bit_depth,
            "progressive": interlace != 0,
        }
    raise ValueError("missing IHDR")


def _chunks(data: bytes):
    pos = 8
    while pos + 8 <= len(data):
        (length,), ctype = struct.unpack(">I", data[pos:pos + 4]), \
            data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + length]
        if len(body) != length:
            raise ValueError("truncated PNG chunk")
        yield ctype, body
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IEND":
            return
    raise ValueError("missing IEND")


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _unfilter(raw: bytes, width: int, height: int, bpp: int) -> np.ndarray:
    """Reverse per-scanline filtering -> (height, width*bpp) uint8."""
    stride = width * bpp
    if len(raw) != height * (stride + 1):
        raise ValueError("IDAT size mismatch")
    out = np.zeros((height, stride), dtype=np.uint8)
    prev = bytearray(stride)
    for y in range(height):
        ftype = raw[y * (stride + 1)]
        line = bytearray(raw[y * (stride + 1) + 1:(y + 1) * (stride + 1)])
        if ftype == 0:
            pass
        elif ftype == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                left = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                left = line[i - bpp] if i >= bpp else 0
                ul = prev[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + _paeth(left, prev[i], ul)) & 0xFF
        else:
            raise ValueError(f"bad filter type {ftype}")
        out[y] = np.frombuffer(bytes(line), dtype=np.uint8)
        prev = line
    return out


def decode_png(content: bytes) -> np.ndarray:
    """Decode a baseline PNG to an (H, W, C) uint8 array. C follows the
    source color type: 1 gray, 2 gray+alpha, 3 RGB (incl. palette),
    4 RGBA."""
    if not (content or b"").startswith(PNG_MAGIC):
        raise ValueError("not a PNG (bad magic)")
    width = height = None
    bit_depth = color_type = interlace = None
    palette = None
    idat = bytearray()
    for ctype, body in _chunks(content):
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _comp, _filt, interlace = \
                struct.unpack(">IIBBBBB", body)
        elif ctype == b"PLTE":
            palette = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += body
    if width is None:
        raise ValueError("missing IHDR")
    if interlace != 0:
        raise NotImplementedError("Adam7 interlacing not supported")
    if bit_depth != 8:
        raise NotImplementedError(f"bit depth {bit_depth} not supported")
    if color_type not in _CHANNELS:
        raise ValueError(f"bad color type {color_type}")
    bpp = _CHANNELS[color_type]
    raw = zlib.decompress(bytes(idat))
    px = _unfilter(raw, width, height, bpp).reshape(height, width, bpp)
    if color_type == 3:
        if palette is None:
            raise ValueError("palette image without PLTE")
        px = palette[px[:, :, 0]]
    return px


def encode_png(pixels: np.ndarray, filter_type: int = 0) -> bytes:
    """Encode an (H, W, C) uint8 array (C in {1,2,3,4}) as a real
    baseline PNG, applying ``filter_type`` (0-4) to every scanline —
    fixture generator exercising each decoder filter path."""
    px = np.ascontiguousarray(pixels, dtype=np.uint8)
    height, width, ch = px.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    stride = width * ch
    flat = px.reshape(height, stride)
    lines = bytearray()
    prev = np.zeros(stride, dtype=np.int16)
    for y in range(height):
        cur = flat[y].astype(np.int16)
        left = np.zeros(stride, dtype=np.int16)
        left[ch:] = cur[:-ch]
        ul = np.zeros(stride, dtype=np.int16)
        ul[ch:] = prev[:-ch]
        if filter_type == 0:
            enc = cur
        elif filter_type == 1:
            enc = cur - left
        elif filter_type == 2:
            enc = cur - prev
        elif filter_type == 3:
            enc = cur - ((left + prev) >> 1)
        elif filter_type == 4:
            pred = np.array([_paeth(int(a), int(b), int(c))
                             for a, b, c in zip(left, prev, ul)],
                            dtype=np.int16)
            enc = cur - pred
        else:
            raise ValueError(f"bad filter type {filter_type}")
        lines.append(filter_type)
        lines += bytes((enc & 0xFF).astype(np.uint8))
        prev = cur
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body)))

    return (PNG_MAGIC + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(lines), 6))
            + chunk(b"IEND", b""))


def image_stats(px: np.ndarray) -> dict:
    """Deterministic summary of decoded pixels — what the feature
    stage folds into its fixed-dim vector, and what tests pin."""
    h, w, c = px.shape
    gray = px.astype(np.float32).mean(axis=2)
    return {
        "width": int(w),
        "height": int(h),
        "channels": int(c),
        "mean": [float(px[:, :, i].mean()) for i in range(c)],
        "std": [float(px[:, :, i].std()) for i in range(c)],
        "gray_hist": np.histogram(
            gray, bins=8, range=(0.0, 256.0))[0].tolist(),
    }
