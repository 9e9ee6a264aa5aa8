"""Pure-stdlib baseline JPEG codec (functions/jpeg.py): lossy
round-trips, the bit-exact flat-tile oracle contract, subsampling,
restart markers, error modes, and the multimodal dispatch path."""

from __future__ import annotations

import numpy as np
import pytest

from rdf_knowledge_extractor_spark.functions.jpeg import (
    JpegError,
    decode_jpeg,
    encode_jpeg,
    is_jpeg,
    jpeg_stats,
)

Q16 = np.full(64, 16, dtype=np.int64)


def _rng(seed):
    return np.random.default_rng(seed)


def _mae(a, b):
    return float(np.abs(a.astype(np.float64) - b.astype(np.float64)).mean())


# -- the oracle contract -------------------------------------------------


def test_flat_block_bit_exact():
    """Flat 8x8 blocks with values ≡ 0 (mod 4) under an all-16 quant
    table decode BIT-EXACTLY — the multimodal_jpeg oracle contract."""
    for v in (0, 4, 100, 128, 200, 252):
        img = np.full((8, 8), v, dtype=np.uint8)
        out = decode_jpeg(encode_jpeg(img, quant_override=Q16))
        assert out.shape == (8, 8, 1)
        assert (out[:, :, 0] == v).all(), v


def test_flat_tile_grid_bit_exact_matches_closed_form():
    """The exact documents_as_jpeg fixture shape for a few ids."""
    for i in (0, 1, 2, 3, 17, 42):
        tx, ty = i % 2 + 1, (i // 2) % 2 + 1
        k = np.arange(tx * ty).reshape(ty, tx)
        tiles = (4 * ((i * 7 + 13 * k) % 64)).astype(np.uint8)
        img = np.repeat(np.repeat(tiles, 8, axis=0), 8, axis=1)
        out = decode_jpeg(encode_jpeg(img, quant_override=Q16))
        assert (out[:, :, 0] == img).all()
        w, h, c, means = jpeg_stats(encode_jpeg(img, quant_override=Q16))
        assert (w, h, c) == (8 * tx, 8 * ty, 1)
        # per-tile values are multiples of 4 and tile count is 1/2/4,
        # so mean*255 is the closed-form integer the oracle computes
        expect = 4 * sum(int((7 * i + 13 * kk) % 64) for kk in range(tx * ty)) / (tx * ty)
        assert round(means[0] * 255) == expect
        assert abs(means[0] * 255 - expect) < 1e-9


# -- lossy round-trips ---------------------------------------------------


def test_roundtrip_grayscale_lossy():
    img = _rng(0).integers(0, 256, (24, 16), dtype=np.uint8)
    out = decode_jpeg(encode_jpeg(img, quality=95))
    assert out.shape == (24, 16, 1)
    assert _mae(out[:, :, 0], img) < 6.0


def test_roundtrip_smooth_gradient_high_quality():
    """Smooth content compresses nearly losslessly at q=95."""
    y, x = np.mgrid[0:32, 0:32]
    img = ((y * 4 + x * 3) % 256).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(img, quality=95))
    assert _mae(out[:, :, 0], img) < 3.0


def test_roundtrip_rgb_444():
    img = np.zeros((16, 16, 3), dtype=np.uint8)
    img[:8, :, 0] = 200
    img[8:, :, 1] = 150
    img[:, :8, 2] = 90
    out = decode_jpeg(encode_jpeg(img, quality=95, subsampling="444"))
    assert out.shape == (16, 16, 3)
    assert _mae(out, img) < 8.0


def test_roundtrip_rgb_420_subsampled():
    y, x = np.mgrid[0:32, 0:32]
    img = np.stack(
        [(y * 5) % 256, (x * 5) % 256, ((x + y) * 3) % 256], axis=2
    ).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(img, quality=90, subsampling="420"))
    assert out.shape == (32, 32, 3)
    assert _mae(out, img) < 12.0


def test_non_multiple_of_8_dimensions():
    img = _rng(3).integers(0, 256, (11, 7), dtype=np.uint8)
    out = decode_jpeg(encode_jpeg(img, quality=95))
    assert out.shape == (11, 7, 1)
    assert _mae(out[:, :, 0], img) < 8.0


def test_non_multiple_of_16_dimensions_420():
    img = _rng(4).integers(0, 256, (19, 13, 3), dtype=np.uint8)
    out = decode_jpeg(encode_jpeg(img, quality=90, subsampling="420"))
    assert out.shape == (19, 13, 3)


def test_restart_markers_equivalent():
    img = _rng(5).integers(0, 256, (40, 40), dtype=np.uint8)
    plain = decode_jpeg(encode_jpeg(img, quality=85))
    restarted = decode_jpeg(encode_jpeg(img, quality=85, restart_interval=2))
    assert (plain == restarted).all()


def test_quality_ladder_monotone_size():
    img = _rng(6).integers(0, 256, (32, 32), dtype=np.uint8)
    sizes = [len(encode_jpeg(img, quality=q)) for q in (10, 50, 95)]
    assert sizes[0] < sizes[2]


# -- error modes ---------------------------------------------------------


def test_is_jpeg_rejects_others():
    assert not is_jpeg(b"")
    assert not is_jpeg(b"\x89PNG\r\n\x1a\n")
    assert not is_jpeg(b"GIF89a")
    assert is_jpeg(encode_jpeg(np.zeros((8, 8), dtype=np.uint8)))


def test_decode_rejects_garbage_and_truncation():
    with pytest.raises(JpegError):
        decode_jpeg(b"not a jpeg at all")
    blob = encode_jpeg(np.full((16, 16), 77, dtype=np.uint8))
    with pytest.raises(JpegError):
        decode_jpeg(blob[:20])


def test_decode_rejects_progressive_sof2():
    blob = bytearray(encode_jpeg(np.zeros((8, 8), dtype=np.uint8)))
    idx = bytes(blob).find(b"\xff\xc0")
    assert idx > 0
    blob[idx + 1] = 0xC2  # SOF0 -> SOF2 (progressive)
    with pytest.raises(JpegError):
        decode_jpeg(bytes(blob))


def test_encode_rejects_bad_shapes():
    with pytest.raises(JpegError):
        encode_jpeg(np.zeros((0, 8), dtype=np.uint8))
    with pytest.raises(JpegError):
        encode_jpeg(np.zeros((8, 8, 2), dtype=np.uint8))
    with pytest.raises(JpegError):
        encode_jpeg(np.zeros((8, 8, 3), dtype=np.uint8), subsampling="411")


# -- Spark integration ---------------------------------------------------


def test_multimodal_real_mode_jpeg(spark):
    """documents_as_jpeg → extract_media_features real mode: decoded
    features match the closed forms the DuckDB oracle uses."""
    from pyspark.sql import functions as F

    from rdf_knowledge_extractor_spark.functions.multimodal import (
        documents_as_jpeg,
        extract_media_features,
    )

    docs = spark.range(0, 12).select(F.col("id").alias("doc_id"))
    media = documents_as_jpeg(docs)
    feats = extract_media_features(media, deterministic_fake=False)
    rows = {r["media_id"]: r for r in feats.collect()}
    assert len(rows) == 12
    for i in range(12):
        r = rows[i]
        tx, ty = i % 2 + 1, (i // 2) % 2 + 1
        assert r["decoder"] == "jpeg-stdlib-v1"
        assert round(r["feature"][0] * 1e4) == 8 * tx
        assert round(r["feature"][1] * 1e4) == 8 * ty
        assert round(r["feature"][2] * 4) == 1
        expect = 4 * sum((7 * i + 13 * k) % 64 for k in range(tx * ty)) / (tx * ty)
        assert round(r["feature"][3] * 255) == expect
