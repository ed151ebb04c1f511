"""JPEG codec (media_codecs/jpeg.py): round-trip fidelity across
quality/subsampling/restart paths, structural invariants, progressive
scans, and the ValueError/NotImplementedError quarantine contract."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from media_codecs.jpeg import (
    _ZZ,
    jpeg_decode,
    jpeg_encode,
)


def _psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    return 99.0 if mse == 0 else 10 * np.log10(255.0**2 / mse)


def _gradient(h: int = 48, w: int = 64) -> np.ndarray:
    y, x = np.mgrid[0:h, 0:w]
    return np.stack(
        [x * 255 // w, y * 255 // h, (x + y) * 255 // (w + h)], axis=-1
    ).astype(np.uint8)


def test_zigzag_is_a_permutation_with_the_spec_corners():
    assert sorted(_ZZ.tolist()) == list(range(64))
    # First eight entries of the T.81 zigzag: (0,0),(0,1),(1,0),(2,0),
    # (1,1),(0,2),(0,3),(1,2) as flat natural indices.
    assert _ZZ[:8].tolist() == [0, 1, 8, 16, 9, 2, 3, 10]
    assert _ZZ[-1] == 63


def test_roundtrip_fidelity_by_quality_and_subsampling():
    img = _gradient()
    for quality, sub, floor in [
        (95, "444", 45.0),
        (85, "444", 40.0),
        (85, "420", 35.0),
        (50, "444", 33.0),
    ]:
        dec = jpeg_decode(jpeg_encode(img, quality=quality, subsampling=sub))
        assert dec.shape == img.shape and dec.dtype == np.uint8
        assert _psnr(img, dec) > floor, (quality, sub)


def test_quality_100_is_dct_rounding_only():
    """q=100 scales the Annex-K tables to all-ones, so the only loss is
    coefficient rounding — bounded within a couple of levels even on
    white noise (the worst case for a DCT coder)."""
    rng = np.random.default_rng(7)
    noise = rng.integers(0, 256, (24, 24, 3), dtype=np.uint8)
    dec = jpeg_decode(jpeg_encode(noise, quality=100))
    assert int(np.abs(dec.astype(int) - noise.astype(int)).max()) <= 3


def test_constant_image_is_exact_and_grayscale_replicates():
    const = np.full((16, 16, 3), 130, np.uint8)
    assert np.array_equal(jpeg_decode(jpeg_encode(const, quality=75)), const)
    g = (np.mgrid[0:32, 0:20][0] * 255 // 32).astype(np.uint8)
    dec = jpeg_decode(jpeg_encode(g, quality=90))
    assert dec.shape == (32, 20, 3)
    assert np.array_equal(dec[:, :, 0], dec[:, :, 1])
    assert np.array_equal(dec[:, :, 0], dec[:, :, 2])
    assert _psnr(np.repeat(g[:, :, None], 3, 2), dec) > 45.0


def test_non_multiple_of_8_and_420_odd_dims():
    img = _gradient(13, 9)
    for sub, floor in (("444", 35.0), ("420", 30.0)):
        # a 13x9 gradient is STEEP (28 levels/px) — 4:2:0 chroma halving
        # legitimately costs a few dB on it
        dec = jpeg_decode(jpeg_encode(img, quality=90, subsampling=sub))
        assert dec.shape == (13, 9, 3)
        assert _psnr(img, dec) > floor


def test_restart_markers_roundtrip_identically():
    img = _gradient()
    enc_rst = jpeg_encode(img, quality=85, restart_interval=3)
    enc_none = jpeg_encode(img, quality=85)
    assert b"\xff\xdd" in enc_rst and b"\xff\xdd" not in enc_none
    assert np.array_equal(jpeg_decode(enc_rst), jpeg_decode(enc_none))


def test_encode_is_deterministic():
    img = _gradient()
    assert jpeg_encode(img, quality=85) == jpeg_encode(img, quality=85)


def test_quarantine_contract_valueerrors():
    img = _gradient(16, 16)
    enc = jpeg_encode(img, quality=85)
    with pytest.raises(ValueError, match="SOI magic"):
        jpeg_decode(b"\x89PNG1234")
    with pytest.raises(ValueError):
        jpeg_decode(enc[: len(enc) // 2])  # truncated mid-stream
    # An all-ones bit pattern (0xFF stuffed as FF 00) is an UNASSIGNED
    # canonical Huffman prefix in the Annex-K DC table — the decoder
    # must raise, never emit garbage. (Arbitrary bit flips can decode
    # "successfully" to wrong pixels — JPEG carries no checksum — so the
    # deterministic invalid-code probe is the honest corruption test.)
    bad = bytearray(enc)
    sos = bytes(bad).find(b"\xff\xda")
    entropy0 = sos + 14  # SOS: marker(2) + len(2) + body(10)
    bad[entropy0 : entropy0 + 20] = b"\xff\x00" * 10
    with pytest.raises(ValueError, match="invalid Huffman code"):
        jpeg_decode(bytes(bad))


def test_quarantine_contract_notimplemented_variants():
    img = _gradient(16, 16)
    # SOF0 -> SOF2 on a BASELINE file: progressive now DECODES, so a
    # sequential full-band scan under a progressive SOF is MALFORMED
    # (progressive scans are DC-only or single-component AC bands).
    enc = bytearray(jpeg_encode(img, quality=85))
    sof = bytes(enc).find(b"\xff\xc0")
    enc[sof + 1] = 0xC2
    with pytest.raises(ValueError, match="progressive .* scan parameters"):
        jpeg_decode(bytes(enc))
    # 16-bit DQT (Pq=1).
    enc = bytearray(jpeg_encode(img, quality=85))
    dqt = bytes(enc).find(b"\xff\xdb")
    enc[dqt + 4] |= 0x10
    with pytest.raises(NotImplementedError, match="16-bit"):
        jpeg_decode(bytes(enc))
    # Arithmetic coding (SOF9).
    enc = bytearray(jpeg_encode(img, quality=85))
    sof = bytes(enc).find(b"\xff\xc0")
    enc[sof + 1] = 0xC9
    with pytest.raises(NotImplementedError, match="arithmetic"):
        jpeg_decode(bytes(enc))


# --- Progressive JPEG (round 7): SOF2 decodes for real -----------------


def test_progressive_equals_baseline_exactly():
    """THE equality oracle: progressive and baseline encodings carry the
    SAME quantized coefficients losslessly, so the decoded pixels must
    be bit-identical — across subsampling, quality extremes, odd sizes,
    grayscale, and white noise (the EOB-run / ZRL / correction-bit
    stress case)."""
    from media_codecs.jpeg import (
        jpeg_encode_progressive,
    )

    rng = np.random.default_rng(7)
    cases = [
        (_gradient(), 85, "444"),
        (_gradient(), 85, "420"),
        (_gradient(), 100, "444"),
        (rng.integers(0, 256, (24, 24, 3)).astype(np.uint8), 95, "444"),
        (rng.integers(0, 256, (24, 24, 3)).astype(np.uint8), 10, "444"),
        (_gradient(13, 9), 90, "420"),
        ((np.mgrid[0:48, 0:64][0] * 255 // 48).astype(np.uint8), 85, "444"),
        (np.full((8, 8, 3), 77, np.uint8), 50, "444"),
        (rng.integers(0, 256, (1, 1, 3)).astype(np.uint8), 85, "444"),
    ]
    for img, q, sub in cases:
        base = jpeg_decode(jpeg_encode(img, quality=q, subsampling=sub))
        prog = jpeg_decode(jpeg_encode_progressive(img, quality=q, subsampling=sub))
        assert np.array_equal(base, prog), (img.shape, q, sub)


def test_progressive_markers_and_determinism():
    from media_codecs.jpeg import (
        jpeg_encode_progressive,
    )

    img = _gradient(16, 24)
    enc = jpeg_encode_progressive(img, quality=85)
    assert b"\xff\xc2" in enc and b"\xff\xc0" not in enc
    # 1 DC first + 3x2 AC-first bands + 1 DC refine + 3 AC refine = 11
    assert enc.count(b"\xff\xda") == 11
    assert enc == jpeg_encode_progressive(img, quality=85)


def test_progressive_restart_intervals_roundtrip():
    """DRI + RSTn inside progressive scans: DC preds and EOB runs reset
    at every interval on both sides — still exactly equal to baseline."""
    from media_codecs.jpeg import (
        jpeg_encode_progressive,
    )

    rng = np.random.default_rng(9)
    img = _gradient(24, 40)
    base = jpeg_decode(jpeg_encode(img, quality=85))
    for ri in (1, 2, 5):
        enc = jpeg_encode_progressive(img, quality=85, restart_interval=ri)
        assert b"\xff\xdd" in enc
        assert np.array_equal(jpeg_decode(enc), base), ri
    noise = rng.integers(0, 256, (17, 19, 3)).astype(np.uint8)
    nb = jpeg_decode(jpeg_encode(noise, quality=95))
    np_enc = jpeg_encode_progressive(noise, quality=95, restart_interval=2)
    assert np.array_equal(jpeg_decode(np_enc), nb)


def test_progressive_truncation_and_corruption_raise():
    from media_codecs.jpeg import (
        jpeg_encode_progressive,
    )

    img = _gradient(16, 16)
    enc = jpeg_encode_progressive(img, quality=85)
    with pytest.raises(ValueError):
        jpeg_decode(enc[: len(enc) * 2 // 3])
    # An unassigned all-ones prefix inside the FIRST scan's entropy data.
    bad = bytearray(enc)
    sos = bytes(bad).find(b"\xff\xda")
    ns = bad[sos + 4]
    entropy0 = sos + 4 + 1 + 2 * ns + 3
    bad[entropy0 : entropy0 + 8] = b"\xff\x00" * 4
    with pytest.raises(ValueError):
        jpeg_decode(bytes(bad))


def test_encoder_input_validation():
    with pytest.raises(ValueError, match="expected"):
        jpeg_encode(np.zeros((4, 4, 2), np.uint8))
    with pytest.raises(ValueError, match="subsampling"):
        jpeg_encode(np.zeros((4, 4, 3), np.uint8), subsampling="422")
    with pytest.raises(ValueError, match="restart"):
        jpeg_encode(np.zeros((4, 4, 3), np.uint8), restart_interval=-1)
