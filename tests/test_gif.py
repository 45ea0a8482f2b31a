"""pycore/gif.py — pure-Python GIF codec (spec-subset) unit tests.

No Spark session needed: the codec is the pixel path behind
multimodal.decode_image for `image/gif` payloads.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from searchengine_spark.pycore.gif import decode_gif, encode_gif

_RNG = np.random.default_rng(1234)


def test_roundtrip_small_palette():
    pal = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255]], np.uint8)
    idx = _RNG.integers(0, 3, (17, 23), dtype=np.uint8)
    img = decode_gif(encode_gif(idx, pal))
    assert img.shape == (17, 23, 3)
    assert (img == pal[idx]).all()


def test_roundtrip_full_palette_with_lzw_rollover():
    # 256 colors x 60k pixels forces code width growth to 12 bits AND a
    # table-reset CLEAR mid-stream — every decoder branch runs
    pal = _RNG.integers(0, 256, (256, 3), dtype=np.uint8)
    idx = _RNG.integers(0, 256, (200, 300), dtype=np.uint8)
    img = decode_gif(encode_gif(idx, pal))
    assert (img == pal[idx]).all()


def test_transparency_yields_rgba():
    pal = _RNG.integers(0, 256, (16, 3), dtype=np.uint8)
    idx = _RNG.integers(0, 16, (9, 11), dtype=np.uint8)
    img = decode_gif(encode_gif(idx, pal, transparent=7))
    assert img.shape == (9, 11, 4)
    assert ((img[:, :, 3] == 0) == (idx == 7)).all()
    assert (img[:, :, :3] == pal[idx]).all()


def test_interlaced_scan_order():
    # encode the rows pre-shuffled into GIF interlace pass order, flip
    # the interlace flag in the image descriptor, and expect the
    # decoder to undo the shuffle
    pal = _RNG.integers(0, 256, (64, 3), dtype=np.uint8)
    h, w = 19, 13
    idx = _RNG.integers(0, 64, (h, w), dtype=np.uint8)
    order = (
        list(range(0, h, 8))
        + list(range(4, h, 8))
        + list(range(2, h, 4))
        + list(range(1, h, 2))
    )
    shuffled = idx[order]
    raw = bytearray(encode_gif(shuffled, pal))
    desc = 6 + 7 + 3 * 64  # header + LSD + GCT (64 colors, no padding)
    assert raw[desc] == 0x2C
    raw[desc + 9] |= 0x40  # interlace flag
    img = decode_gif(bytes(raw))
    assert (img == pal[idx]).all()


def test_rejects_non_gif():
    with pytest.raises(ValueError, match="bad signature"):
        decode_gif(b"\x89PNG\r\n\x1a\nnope")


def test_truncated_stream_raises():
    pal = np.array([[0, 0, 0], [255, 255, 255]], np.uint8)
    idx = _RNG.integers(0, 2, (32, 32), dtype=np.uint8)
    raw = encode_gif(idx, pal)
    with pytest.raises(ValueError):
        decode_gif(raw[: len(raw) // 2])


@pytest.mark.parametrize("field", [1, 3])  # descriptor left, top
def test_frame_outside_logical_screen_raises(field):
    pal = np.array([[0, 0, 0], [255, 255, 255]], np.uint8)
    idx = _RNG.integers(0, 2, (4, 5), dtype=np.uint8)
    raw = bytearray(encode_gif(idx, pal))
    desc = 6 + 7 + 3 * 4  # header + LSD + GCT (padded to 4 colors)
    assert raw[desc] == 0x2C
    struct.pack_into("<H", raw, desc + field, 5 if field == 1 else 4)
    with pytest.raises(ValueError, match="frame outside logical screen"):
        decode_gif(bytes(raw))


def test_decode_image_dispatches_gif():
    from searchengine_spark.operators.multimodal import decode_image

    pal = _RNG.integers(0, 256, (8, 3), dtype=np.uint8)
    idx = _RNG.integers(0, 8, (5, 6), dtype=np.uint8)
    img = decode_image(encode_gif(idx, pal))
    assert img.shape == (5, 6, 3)
    assert (img == pal[idx]).all()
