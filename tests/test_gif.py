"""GIF codec (media_codecs/gif.py): LZW round trips, full composition
semantics (sub-rectangles, transparency, disposal, interlace, local
color tables — hand-built from the spec, since the encoder only emits
full frames) and the quarantine contract."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from media_codecs.gif import (
    _lzw_decode,
    _lzw_encode,
    _sub_blocks,
    gif_decode,
    gif_encode,
)


def test_lzw_roundtrip_including_table_full_restart():
    rng = np.random.default_rng(3)
    for size, mcs in [(10_000, 8), (500, 2), (7_000, 4), (1, 3)]:
        idx = rng.integers(0, 1 << mcs, size).astype(np.uint8)
        assert np.array_equal(
            _lzw_decode(_lzw_encode(idx, mcs), mcs, size), idx
        )


def test_gif_roundtrip_multiframe_and_determinism():
    rng = np.random.default_rng(4)
    frames = (rng.integers(0, 4, (5, 9, 7, 1)).astype(np.uint8) * 60).repeat(
        3, axis=3
    )
    enc = gif_encode(frames, delay_ms=50)
    dec, delays = gif_decode(enc)
    assert np.array_equal(dec, frames) and delays == [50] * 5
    assert enc == gif_encode(frames, delay_ms=50)
    one = (rng.integers(0, 8, (6, 5, 3)).astype(np.uint8)) * 30
    dec, _ = gif_decode(gif_encode(one))
    assert np.array_equal(dec[0], one)


def test_gif_encode_palette_overflow_raises():
    rng = np.random.default_rng(5)
    with pytest.raises(ValueError, match="palette overflow"):
        gif_encode(rng.integers(0, 256, (1, 32, 32, 3)).astype(np.uint8))


def _hand_gif(w, h, blocks, palette, bg=0):
    """Minimal hand-built GIF89a with a global color table."""
    size_pow = max(2, int(len(palette) - 1).bit_length())
    table = np.zeros((1 << size_pow, 3), np.uint8)
    table[: len(palette)] = palette
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (size_pow - 1), bg, 0)
    out += table.tobytes()
    for b in blocks:
        out += b
    out += b"\x3b"
    return bytes(out)


def _img_block(left, top, fw, fh, indices, min_code=2, interlace=False):
    desc = b"\x2c" + struct.pack(
        "<HHHHB", left, top, fw, fh, 0x40 if interlace else 0
    )
    return (
        desc
        + bytes([min_code])
        + _sub_blocks(_lzw_encode(indices.reshape(-1), min_code))
    )


def _gce(disposal=0, transparent=None, delay_cs=0):
    packed = (disposal << 2) | (1 if transparent is not None else 0)
    return b"\x21\xf9" + struct.pack(
        "<BBHBB", 4, packed, delay_cs, transparent or 0, 0
    )


_PAL = np.array([[0, 0, 0], [255, 0, 0], [0, 255, 0], [0, 0, 255]], np.uint8)


def test_gif_subrectangle_transparency_and_disposal():
    """Frame 2 paints a 2x2 patch with a transparent index — the screen
    under transparent pixels must show through; disposal 2 then restores
    background before frame 3; disposal 3 reverts frame 3's paint."""
    base = np.ones((4, 4), np.uint8)  # all red
    patch = np.array([[2, 0], [0, 3]], np.uint8)  # 0 transparent here
    blocks = [
        _gce(disposal=1),
        _img_block(0, 0, 4, 4, base),
        _gce(disposal=2, transparent=0),
        _img_block(1, 1, 2, 2, patch),
        _gce(disposal=3),
        _img_block(0, 0, 1, 1, np.array([[3]], np.uint8)),
        _gce(),
        _img_block(0, 0, 1, 1, np.array([[2]], np.uint8)),
    ]
    frames, _ = gif_decode(_hand_gif(4, 4, blocks, _PAL))
    assert frames.shape == (4, 4, 4, 3)
    red, green, blue, black = _PAL[1], _PAL[2], _PAL[3], _PAL[0]
    # Frame 1: all red.
    assert (frames[0] == red).all()
    # Frame 2: patch green at (1,1), blue at (2,2); transparent cells red.
    f2 = frames[1]
    assert (f2[1, 1] == green).all() and (f2[2, 2] == blue).all()
    assert (f2[1, 2] == red).all() and (f2[2, 1] == red).all()
    # Frame 3: disposal 2 filled the patch rect with BACKGROUND (black).
    f3 = frames[2]
    assert (f3[1:3, 1:3] == black).all()
    assert (f3[0, 0] == blue).all()  # frame 3's own 1x1 paint
    # Frame 4: disposal 3 reverted frame 3's paint before painting green.
    f4 = frames[3]
    assert (f4[0, 0] == green).all()
    assert (f4[1:3, 1:3] == black).all()  # the disposal-2 fill persists


def test_gif_interlaced_rows_reassemble():
    rng = np.random.default_rng(6)
    img = rng.integers(0, 4, (9, 5)).astype(np.uint8)
    # Write rows in the 4-pass interlace order, flag the frame interlaced.
    order = (
        list(range(0, 9, 8)) + list(range(4, 9, 8))
        + list(range(2, 9, 4)) + list(range(1, 9, 2))
    )
    shuffled = img[order]
    frames, _ = gif_decode(
        _hand_gif(5, 9, [_img_block(0, 0, 5, 9, shuffled, interlace=True)], _PAL)
    )
    assert np.array_equal(frames[0], _PAL[img])


def test_gif_quarantine_typed_errors():
    good = gif_encode(np.zeros((4, 4, 3), np.uint8))
    with pytest.raises(ValueError, match="magic"):
        gif_decode(b"GIF55a" + b"\x00" * 20)
    with pytest.raises(ValueError):
        gif_decode(good[:-8])  # truncated
    # Frame rectangle outside the screen.
    bad = _hand_gif(
        4, 4, [_img_block(3, 3, 2, 2, np.zeros((2, 2), np.uint8))], _PAL
    )
    with pytest.raises(ValueError, match="outside the logical screen"):
        gif_decode(bad)
    # Pixel count mismatch: 2x2 frame, 3 pixels of data.
    short = _hand_gif(
        4, 4,
        [
            b"\x2c" + struct.pack("<HHHHB", 0, 0, 2, 2, 0) + bytes([2])
            + _sub_blocks(_lzw_encode(np.zeros(3, np.uint8), 2))
        ],
        _PAL,
    )
    with pytest.raises(ValueError, match="pixels decoded"):
        gif_decode(short)
