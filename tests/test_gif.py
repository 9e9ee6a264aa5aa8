"""Pure-stdlib GIF codec (functions/gif.py): LZW round-trip, interlace,
transparency, and the multimodal dispatch path."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from rdf_knowledge_extractor_spark.functions.gif import (
    GifError,
    decode_gif,
    gif_stats,
    is_gif,
)
from fixture_encoders import encode_gif


def _rng(seed):
    return np.random.default_rng(seed)


def test_roundtrip_grayscale():
    img = _rng(0).integers(0, 256, (11, 7), dtype=np.uint8)
    out = decode_gif(encode_gif(img))
    assert out.shape == (11, 7, 4)
    # gray palette: R == G == B == index
    assert (out[:, :, 0] == img).all()
    assert (out[:, :, 1] == img).all()
    assert (out[:, :, 3] == 255).all()


def test_roundtrip_rgb():
    img = _rng(1).integers(0, 256, (5, 9, 3), dtype=np.uint8)
    out = decode_gif(encode_gif(img))
    assert (out[:, :, :3] == img).all()


def test_roundtrip_large_exercises_clear_codes():
    # > 254 pixels forces the encoder's interleaved clear codes and the
    # decoder's table resets
    img = _rng(2).integers(0, 4, (40, 33), dtype=np.uint8) * 80
    out = decode_gif(encode_gif(img))
    assert (out[:, :, 0] == img).all()


def test_real_lzw_compression_decodes():
    """Hand-assembled GIF with REAL (table-building) LZW codes — the
    encoder above only emits literals, so build a compressed stream by
    hand: 2x2 image, palette {0:red, 1:green}, pixels [0,1,0,1].
    min_code_size=2: clear=4, eoi=5, first literal width 3."""
    header = b"GIF89a" + struct.pack("<HHBBB", 2, 2, 0x80 | 0x00, 0, 0)
    palette = bytes([255, 0, 0, 0, 255, 0])  # 2-entry GCT
    desc = b"\x2c" + struct.pack("<HHHHB", 0, 0, 2, 2, 0)
    # codes: clear(4) 0 1 6 eoi(5); code 6 = prev(0,1 entry "01"?) —
    # table after "0","1": entry 6 = "0"+"1"[0]? Walk: prev=None;
    # 0→"0"; 1→"1" add 6="01"; 6→"01" add 7="10"; so pixels 0,1,0,1 ✓
    codes = [(4, 3), (0, 3), (1, 3), (6, 3), (5, 3)]
    acc = nbits = 0
    bits = bytearray()
    for code, w in codes:
        acc |= code << nbits
        nbits += w
        while nbits >= 8:
            bits.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        bits.append(acc & 0xFF)
    img_data = bytes([2]) + bytes([len(bits)]) + bytes(bits) + b"\x00"
    gif = header + palette + desc + img_data + b"\x3b"
    out = decode_gif(gif)
    assert out.shape == (2, 2, 4)
    assert (out[0, 0, :3] == [255, 0, 0]).all()
    assert (out[0, 1, :3] == [0, 255, 0]).all()
    assert (out[1, 0, :3] == [255, 0, 0]).all()
    assert (out[1, 1, :3] == [0, 255, 0]).all()


def test_interlaced_rows_reordered():
    base = encode_gif(np.arange(64, dtype=np.uint8).reshape(8, 8))
    plain = decode_gif(base)
    # rewrite as interlaced: set the interlace flag and permute rows
    # into pass order so the decoder must undo it
    idx = np.arange(64, dtype=np.uint8).reshape(8, 8)
    order = [r for start, step in ((0, 8), (4, 8), (2, 4), (1, 2))
             for r in range(start, 8, step)]
    permuted = idx[order]
    inter = bytearray(encode_gif(permuted))
    # image descriptor starts after 6+7+768 bytes; packed byte is at +9
    desc_at = 6 + 7 + 768
    assert inter[desc_at] == 0x2C
    inter[desc_at + 9] |= 0x40
    got = decode_gif(bytes(inter))
    assert (got == plain).all()


def test_transparency_alpha():
    img = np.array([[0, 1], [1, 0]], dtype=np.uint8)
    base = encode_gif(img)
    # splice a Graphic Control Extension marking index 1 transparent
    gce = b"\x21\xf9\x04\x01\x00\x00\x01\x00"
    desc_at = 6 + 7 + 768
    gif = base[:desc_at] + gce + base[desc_at:]
    out = decode_gif(gif)
    assert out[0, 0, 3] == 255
    assert out[0, 1, 3] == 0


def test_error_paths():
    assert not is_gif(b"PNG")
    with pytest.raises(GifError, match="signature"):
        decode_gif(b"nope")
    good = encode_gif(np.zeros((3, 3), dtype=np.uint8))
    with pytest.raises(GifError):
        decode_gif(good[:20])
    many = np.zeros((300, 1, 3), dtype=np.uint8)
    many[:, 0, 0] = np.arange(300) % 256
    many[:, 0, 1] = np.arange(300) // 256
    with pytest.raises(GifError, match="256 unique"):
        encode_gif(many)


def test_stats_contract():
    img = np.full((4, 6), 128, dtype=np.uint8)
    w, h, c, means = gif_stats(encode_gif(img))
    assert (w, h, c) == (6, 4, 4)
    assert means[0] == pytest.approx(128 / 255)
    assert means[3] == pytest.approx(1.0)  # opaque alpha


def test_spark_real_decode_dispatch(spark):
    from rdf_knowledge_extractor_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        extract_media_features,
    )
    from fixture_encoders import encode_png

    rows = [
        (0, bytearray(encode_gif(np.full((3, 5), 100, dtype=np.uint8))), "image", {}),
        (1, bytearray(encode_png(np.full((2, 2, 3), 10, dtype=np.uint8))), "image", {}),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA).repartition(1)
    got = {
        r.media_id: r
        for r in extract_media_features(media, deterministic_fake=False).collect()
    }
    assert got[0].decoder == "gif-stdlib-v1"
    assert got[0].feature[0] == pytest.approx(5 / 1e4)
    assert got[0].feature[1] == pytest.approx(3 / 1e4)
    assert got[1].decoder == "png-stdlib-v1"
