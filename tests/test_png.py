"""Pure-stdlib PNG codec (functions/png.py) + the real multimodal
decode path it unlocks (VERDICT r2 #7).

Filter-type coverage builds the FILTERED scanline streams by hand (the
inverse direction of the decoder's math), so decoder and fixtures
don't share code."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from rdf_knowledge_extractor_spark.functions.png import (
    PNG_MAGIC,
    PngError,
    decode_png,
    is_png,
    png_stats,
)
from fixture_encoders import encode_png


def _rng(seed=7):
    return np.random.default_rng(seed)


@pytest.mark.parametrize("channels", [1, 2, 3, 4])
def test_roundtrip_all_color_types(channels):
    img = _rng(channels).integers(0, 256, size=(13, 9, channels), dtype=np.uint8)
    out = decode_png(encode_png(img))
    assert out.shape == img.shape
    assert np.array_equal(out, img)


def test_stats_contract():
    img = np.zeros((4, 6, 3), dtype=np.uint8)
    img[:, :, 0] = 255  # pure red
    w, h, c, means = png_stats(encode_png(img))
    assert (w, h, c) == (6, 4, 3)
    assert means[0] == pytest.approx(1.0)
    assert means[1] == means[2] == pytest.approx(0.0)


def _chunk(ctype: bytes, body: bytes) -> bytes:
    crc = zlib.crc32(ctype + body) & 0xFFFFFFFF
    return struct.pack(">I", len(body)) + ctype + body + struct.pack(">I", crc)


def _png_from_filtered(raw: bytes, w: int, h: int, color_type: int, plte=None):
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    out = PNG_MAGIC + _chunk(b"IHDR", ihdr)
    if plte is not None:
        out += _chunk(b"PLTE", plte)
    return out + _chunk(b"IDAT", zlib.compress(raw)) + _chunk(b"IEND", b"")


def _filter_rows(img: np.ndarray, ftype: int) -> bytes:
    """Apply PNG filter `ftype` to every row (the encoder direction,
    written independently of the decoder)."""
    h, w, c = img.shape
    stride = w * c
    flat = img.reshape(h, stride).astype(np.int32)
    out = bytearray()
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        row = flat[y]
        filt = bytearray([ftype])
        for x in range(stride):
            a = int(row[x - c]) if x >= c else 0
            b = int(prev[x])
            cc = int(prev[x - c]) if x >= c else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) >> 1
            else:  # Paeth
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
            filt.append((int(row[x]) - pred) & 0xFF)
        out.extend(filt)
        prev = row
    return bytes(out)


@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
def test_all_filter_types_decode(ftype):
    img = _rng(ftype + 10).integers(0, 256, size=(6, 5, 3), dtype=np.uint8)
    data = _png_from_filtered(_filter_rows(img, ftype), 5, 6, 2)
    assert np.array_equal(decode_png(data), img)


def test_mixed_filters_per_row():
    img = _rng(42).integers(0, 256, size=(5, 4, 3), dtype=np.uint8)
    rows = []
    for y in range(5):
        one = _filter_rows(img[: y + 1], (y % 5))
        stride = 4 * 3 + 1
        rows.append(one[y * stride : (y + 1) * stride])
    data = _png_from_filtered(b"".join(rows), 4, 5, 2)
    assert np.array_equal(decode_png(data), img)


def test_palette_image():
    pal = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])  # R, G, B entries
    idx = np.array([[0, 1], [2, 0]], dtype=np.uint8)
    raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(2))
    img = decode_png(_png_from_filtered(raw, 2, 2, 3, plte=pal))
    assert img.shape == (2, 2, 3)
    assert tuple(img[0, 0]) == (255, 0, 0)
    assert tuple(img[0, 1]) == (0, 255, 0)
    assert tuple(img[1, 0]) == (0, 0, 255)


def test_error_paths():
    assert not is_png(b"JFIF")
    with pytest.raises(PngError, match="signature"):
        decode_png(b"not a png")
    img = _rng(1).integers(0, 256, (3, 3, 3), dtype=np.uint8)
    good = encode_png(img)
    with pytest.raises(PngError):
        decode_png(good[:30])  # truncated
    ihdr_interlaced = struct.pack(">IIBBBBB", 3, 3, 8, 2, 0, 0, 1)
    bad = PNG_MAGIC + _chunk(b"IHDR", ihdr_interlaced) + _chunk(b"IEND", b"")
    with pytest.raises(PngError, match="Adam7"):
        decode_png(bad)


def test_spark_real_decode_path(spark):
    """extract_media_features(deterministic_fake=False) over generated
    PNGs: real width/height/channel/mean features, 'png-stdlib-v1'."""
    from rdf_knowledge_extractor_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        extract_media_features,
    )

    rows = []
    for i, (w, h, c) in enumerate([(4, 3, 3), (7, 2, 4), (5, 5, 1)]):
        img = np.full((h, w, c), 128, dtype=np.uint8)
        rows.append((i, bytearray(encode_png(img)), "image", {}))
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {
        r.media_id: r
        for r in extract_media_features(media, deterministic_fake=False).collect()
    }
    assert got[0].decoder == "png-stdlib-v1"
    assert got[0].feature[0] == pytest.approx(4 / 1e4)   # width
    assert got[0].feature[1] == pytest.approx(3 / 1e4)   # height
    assert got[0].feature[2] == pytest.approx(3 / 4.0)   # channels
    assert got[0].feature[3] == pytest.approx(128 / 255, abs=1e-6)
    assert got[1].feature[2] == pytest.approx(4 / 4.0)
    assert got[2].feature[2] == pytest.approx(1 / 4.0)


def test_spark_real_decode_non_png_raises(spark):
    from rdf_knowledge_extractor_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        extract_media_features,
    )

    # unknown signature → the no-decoder NotImplementedError branch
    media = spark.createDataFrame(
        [(0, bytearray(b"RIFF....AVI LIST"), "image", {})], MEDIA_SCHEMA
    )
    with pytest.raises(Exception, match="NotImplementedError|no stdlib decoder"):
        extract_media_features(media, deterministic_fake=False).collect()
    # JPEG signature now routes to the REAL decoder (functions/jpeg.py),
    # which fails loudly with a precise codec error on garbage bytes
    media2 = spark.createDataFrame(
        [(0, bytearray(b"\xff\xd8\xff jpeg-ish"), "image", {})], MEDIA_SCHEMA
    )
    with pytest.raises(Exception, match="JpegError|truncated"):
        extract_media_features(media2, deterministic_fake=False).collect()
