"""Minimal pure-stdlib PNG codec (zlib + struct — no PIL).

Gives the multimodal pipeline (functions/multimodal.py) a REAL decode
path for generated fixtures in codec-less containers, in the same
spirit as the dependency-free Flate fallback in functions/pdf_text.py
(VERDICT r2 #7).  Supported: bit depth 8, color types 0 (gray),
2 (RGB), 3 (palette), 4 (gray+alpha), 6 (RGBA), non-interlaced,
all five scanline filters (None/Sub/Up/Average/Paeth).  Interlaced
(Adam7) or exotic bit depths raise ValueError — callers fall back to
the deterministic fake.

The decoder runs inside Arrow-batched workers (mapInPandas), so it is
numpy-vectorized where the filter allows (Up is fully vectorized;
Sub/Average/Paeth are sequential by definition along x and loop per
pixel within a row only).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


class PngError(ValueError):
    pass


def is_png(data: bytes) -> bool:
    return bool(data) and data[:8] == PNG_MAGIC


def _chunks(data: bytes):
    pos = 8
    n = len(data)
    while pos + 8 <= n:
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if len(body) != length:
            raise PngError("truncated chunk")
        yield ctype, body
        pos += 12 + length  # length + type + data + crc (crc not validated)
        if ctype == b"IEND":
            return


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes → HxWxC uint8 array (palette expanded to RGB)."""
    if not is_png(data):
        raise PngError("not a PNG (bad signature)")
    width = height = None
    bit_depth = color_type = interlace = None
    idat = bytearray()
    palette: bytes | None = None
    for ctype, body in _chunks(data):
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _comp, _filt, interlace = (
                struct.unpack(">IIBBBBB", body)
            )
        elif ctype == b"PLTE":
            palette = body
        elif ctype == b"IDAT":
            idat.extend(body)
    if width is None:
        raise PngError("missing IHDR")
    if bit_depth != 8:
        raise PngError(f"unsupported bit depth {bit_depth}")
    if color_type not in _CHANNELS:
        raise PngError(f"unsupported color type {color_type}")
    if interlace:
        raise PngError("interlaced (Adam7) not supported")
    channels = _CHANNELS[color_type]
    if not idat:
        raise PngError("missing IDAT")
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:
        raise PngError(f"corrupt IDAT stream: {e}") from e
    stride = width * channels
    if len(raw) != height * (stride + 1):
        raise PngError("IDAT size mismatch")

    out = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    bpp = channels  # bytes per pixel at depth 8
    for y in range(height):
        off = y * (stride + 1)
        ftype = raw[off]
        line = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=off + 1)
        if ftype == 0:  # None
            recon = line.copy()
        elif ftype == 2:  # Up
            recon = line + prev  # uint8 wraps mod 256 per spec
        elif ftype == 1:  # Sub
            recon = line.copy()
            for x in range(bpp, stride):
                recon[x] = (int(recon[x]) + int(recon[x - bpp])) & 0xFF
        elif ftype == 3:  # Average
            recon = line.copy()
            for x in range(stride):
                left = int(recon[x - bpp]) if x >= bpp else 0
                recon[x] = (int(line[x]) + ((left + int(prev[x])) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            recon = line.copy()
            for x in range(stride):
                a = int(recon[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                recon[x] = (int(line[x]) + pred) & 0xFF
        else:
            raise PngError(f"unknown filter {ftype}")
        out[y] = recon
        prev = recon

    img = out.reshape(height, width, channels)
    if color_type == 3:
        if palette is None:
            raise PngError("palette image without PLTE")
        pal = np.frombuffer(palette, dtype=np.uint8).reshape(-1, 3)
        img = pal[img[:, :, 0]]
    return img


def png_stats(data: bytes) -> tuple[int, int, int, list[float]]:
    """(width, height, channels, per-channel mean/255) — the feature
    contract consumed by extract_media_features."""
    img = decode_png(data)
    h, w, c = img.shape
    means = (img.reshape(-1, c).mean(axis=0) / 255.0).tolist()
    return w, h, c, [float(m) for m in means]
