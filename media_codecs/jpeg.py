"""JPEG (JFIF) codec — REAL, zero-dependency (stdlib + numpy).

Baseline sequential DCT JPEG (ITU-T.81 SOF0) AND progressive JPEG
(SOF2) are implementable with numpy matrix arithmetic plus a
pure-Python entropy coder: 8x8 forward/inverse DCT as an orthonormal
matrix sandwich, the Annex-K quantization and Huffman tables,
canonical-code Huffman encode/decode with byte stuffing, the JFIF
marker walk, and for progressive the spectral-selection /
successive-approximation scan machinery (EOBn run codes, the
correction-bit refinement walk of T.81 G.1.2). No codec library
involved.

Scope (and the quarantine contract, matching media_codecs/gif.py):

- ``jpeg_encode``: baseline — 8-bit grayscale or RGB, 4:4:4 or 4:2:0
  chroma subsampling, libjpeg-style quality scaling of the Annex-K
  tables, optional restart intervals.
- ``jpeg_encode_progressive``: SOF2 with BOTH progressive devices —
  spectral-selection scan script + successive approximation (Al=1
  first passes, refinement to Al=0), flat in-file Huffman tables
  (Annex-K's baseline tables lack the EOBn symbols), optional restart
  intervals. The entropy coding is LOSSLESS over the same quantized
  coefficients baseline emits, so decode(progressive) ==
  decode(baseline) EXACTLY — the equality oracle the tests pin.
- ``jpeg_decode``: baseline (SOF0/SOF1) and progressive (SOF2), 8-bit
  precision, 1 or 3 components, sampling factors up to 2x2, restart
  markers, multi-table DQT/DHT segments, tables redefined between
  scans. Returns (h, w, 3) uint8 RGB (grayscale replicated, so every
  decode has the same shape).
- Malformed payloads raise ValueError (truncation, bad markers, invalid
  Huffman codes, runs past block/band end, bad scan parameters); format
  variants that genuinely need more machinery raise NotImplementedError
  (hierarchical/lossless SOFs, arithmetic coding, 16-bit quant tables,
  12-bit precision) — both quarantine-catchable.
"""

from __future__ import annotations

import struct

import numpy as np

# --- Tables -------------------------------------------------------------

# Zigzag scan: flat natural-order indices in zigzag sequence. Generated,
# not transcribed (diagonal s = i+j; odd diagonals walk i ascending, even
# ones descending — the T.81 figure A.6 order).
_ZZ = np.array(
    [
        i * 8 + j
        for i, j in sorted(
            ((i, j) for i in range(8) for j in range(8)),
            key=lambda ij: (
                ij[0] + ij[1],
                ij[0] if (ij[0] + ij[1]) % 2 else -ij[0],
            ),
        )
    ],
    dtype=np.int64,
)

# Orthonormal 8-point DCT-II matrix: forward F = D @ B @ D.T, inverse
# B = D.T @ F @ D (D is orthogonal).
_D = np.cos((2 * np.arange(8)[None, :] + 1) * np.arange(8)[:, None] * np.pi / 16) * 0.5
_D[0, :] /= np.sqrt(2.0)

# Annex-K quantization tables (natural order).
_QUANT_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int64,
).reshape(8, 8)
_QUANT_CHROMA = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int64,
).reshape(8, 8)

# Annex-K typical Huffman tables: (BITS[1..16] code-length counts,
# HUFFVAL). The encoder writes them into DHT and the decoder reads DHT,
# so a decode never depends on these constants matching the spec — but
# they are the spec's tables, and the import-time asserts below pin the
# structural invariants (count sum == value count, <= 16 lengths).
_HUFF_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_HUFF_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_HUFF_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)
_HUFF_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)
for _bits, _vals in (_HUFF_DC_LUMA, _HUFF_DC_CHROMA, _HUFF_AC_LUMA, _HUFF_AC_CHROMA):
    assert len(_bits) == 16 and sum(_bits) == len(_vals), (sum(_bits), len(_vals))
del _bits, _vals


def _scaled_quant(base: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg quality scaling: 1..100 -> scaled Annex-K table, clipped
    to [1, 255] (quality 100 => all-ones table, i.e. DCT-rounding-only
    loss)."""
    q = min(max(int(quality), 1), 100)
    scale = 5000 // q if q < 50 else 200 - 2 * q
    return np.clip((base * scale + 50) // 100, 1, 255).astype(np.int64)


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """value -> (code, length) for the encoder (T.81 C.2 canonical
    assignment)."""
    out: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _decode_table(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> value for the decoder (same canonical walk)."""
    out: dict[tuple[int, int], int] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return out


# --- Entropy-coded segment I/O ------------------------------------------


class _BitWriter:
    """MSB-first bit accumulator with JPEG byte stuffing (0xFF -> 0xFF
    0x00) and 1-padding to the byte boundary (T.81 F.1.2.3)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, val: int, n: int) -> None:
        if n == 0:
            return
        self.acc = (self.acc << n) | (val & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def pad_to_byte(self) -> None:
        if self.nbits:
            n = 8 - self.nbits
            self.write((1 << n) - 1, n)


class _BitReader:
    """MSB-first bit reader over an entropy-coded segment: un-stuffs
    0xFF 0x00, refuses to read through a real marker (the caller handles
    restart markers explicitly via ``expect_restart``)."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def read_bit(self) -> int:
        if not self.nbits:
            if self.pos >= len(self.data):
                raise ValueError("JPEG entropy stream truncated")
            b = self.data[self.pos]
            if b == 0xFF:
                if self.pos + 1 >= len(self.data):
                    raise ValueError("JPEG entropy stream truncated at 0xFF")
                nxt = self.data[self.pos + 1]
                if nxt != 0x00:
                    raise ValueError(
                        f"unexpected marker 0xFF{nxt:02X} inside JPEG entropy data"
                    )
                self.pos += 2
            else:
                self.pos += 1
            self.acc = b
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def expect_restart(self, idx: int) -> None:
        """Byte-align and consume RST(idx mod 8) (T.81 E.1.4)."""
        self.nbits = 0
        if (
            self.pos + 2 > len(self.data)
            or self.data[self.pos] != 0xFF
            or self.data[self.pos + 1] != 0xD0 + (idx % 8)
        ):
            raise ValueError(f"missing JPEG restart marker RST{idx % 8}")
        self.pos += 2


def _read_huff(reader: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.read_bit()
        v = table.get((length, code))
        if v is not None:
            return v
    raise ValueError("invalid Huffman code in JPEG stream")


def _extend(v: int, s: int) -> int:
    """T.81 F.2.2.1 EXTEND: map an s-bit magnitude to its signed value."""
    return v - (1 << s) + 1 if s and v < (1 << (s - 1)) else v


def _category(v: int) -> int:
    return int(abs(v)).bit_length()


# --- Block codec ---------------------------------------------------------


def _encode_block(
    w: _BitWriter,
    zz: np.ndarray,
    pred: int,
    dc: dict[int, tuple[int, int]],
    ac: dict[int, tuple[int, int]],
) -> int:
    diff = int(zz[0]) - pred
    s = _category(diff)
    code, length = dc[s]
    w.write(code, length)
    if s:
        w.write(diff if diff > 0 else diff + (1 << s) - 1, s)
    run = 0
    for k in range(1, 64):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            zc, zl = ac[0xF0]  # ZRL: 16 zeros
            w.write(zc, zl)
            run -= 16
        s = _category(v)
        code, length = ac[(run << 4) | s]
        w.write(code, length)
        w.write(v if v > 0 else v + (1 << s) - 1, s)
        run = 0
    if run:
        code, length = ac[0x00]  # EOB
        w.write(code, length)
    return int(zz[0])


def _decode_block(
    reader: _BitReader,
    dc: dict[tuple[int, int], int],
    ac: dict[tuple[int, int], int],
    pred: int,
) -> tuple[np.ndarray, int]:
    s = _read_huff(reader, dc)
    if s > 15:
        raise ValueError(f"bad JPEG DC category {s}")
    dc_val = pred + _extend(reader.read_bits(s), s)
    zz = np.zeros(64, dtype=np.int64)
    zz[0] = dc_val
    k = 1
    while k < 64:
        rs = _read_huff(reader, ac)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            raise ValueError("JPEG AC run past block end")
        zz[k] = _extend(reader.read_bits(s), s)
        k += 1
    return zz, dc_val


# --- Color transforms -----------------------------------------------------

_RGB2YCC = np.array(
    [
        [0.299, 0.587, 0.114],
        [-0.168736, -0.331264, 0.5],
        [0.5, -0.418688, -0.081312],
    ]
)


def _rgb_to_ycbcr(px: np.ndarray) -> np.ndarray:
    out = px.astype(np.float64) @ _RGB2YCC.T
    out[:, :, 1:] += 128.0
    return out


def _ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    cb = cb - 128.0
    cr = cr - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.round(np.stack([r, g, b], axis=-1)), 0, 255).astype(np.uint8)


# --- Encoder ---------------------------------------------------------------


def _pad_to_blocks(plane: np.ndarray, bh: int, bw: int) -> np.ndarray:
    """Edge-replicate pad to multiples of (bh, bw) — the standard MCU
    padding that keeps the DC of edge blocks unbiased."""
    h, w = plane.shape
    return np.pad(
        plane,
        ((0, (-h) % bh), (0, (-w) % bw)),
        mode="edge",
    )


def _plan_frame(pixels: np.ndarray, quality: int, subsampling: str):
    """Shared front half of both encoders: color transform, subsampling,
    MCU padding, and the forward DCT + quantization of EVERY block into
    per-component ZIGZAG coefficient arrays. Returns (w, h, comps,
    quants, coefs, geom) where comps = [(cid, hf, vf, tq)], coefs[cid]
    is (blocks_y_padded, blocks_x_padded, 64) int64 in zigzag order, and
    geom = (hmax, vmax, mcux, mcuy)."""
    if pixels.ndim == 2:
        gray = True
    elif pixels.ndim == 3 and pixels.shape[2] == 3:
        gray = False
    else:
        raise ValueError(f"expected (h, w, 3) RGB or (h, w) gray array, got {pixels.shape}")
    if subsampling not in ("444", "420"):
        raise ValueError(f"subsampling must be 444|420, got {subsampling!r}")
    h_img, w_img = pixels.shape[:2]
    if h_img < 1 or w_img < 1 or h_img > 0xFFFF or w_img > 0xFFFF:
        raise ValueError(f"bad image dimensions {w_img}x{h_img}")

    quants = [_scaled_quant(_QUANT_LUMA, quality), _scaled_quant(_QUANT_CHROMA, quality)]

    # (id, h_factor, v_factor, quant_table_idx, plane)
    if gray:
        planes = [(1, 1, 1, 0, pixels.astype(np.float64))]
    else:
        ycc = _rgb_to_ycbcr(pixels)
        if subsampling == "444":
            planes = [
                (1, 1, 1, 0, ycc[:, :, 0]),
                (2, 1, 1, 1, ycc[:, :, 1]),
                (3, 1, 1, 1, ycc[:, :, 2]),
            ]
        else:  # 420: chroma planes box-averaged 2x2
            even_h, even_w = h_img + (h_img & 1), w_img + (w_img & 1)
            cc = []
            for c in (1, 2):
                p = np.pad(
                    ycc[:, :, c],
                    ((0, even_h - h_img), (0, even_w - w_img)),
                    mode="edge",
                )
                cc.append(p.reshape(even_h // 2, 2, even_w // 2, 2).mean(axis=(1, 3)))
            planes = [
                (1, 2, 2, 0, ycc[:, :, 0]),
                (2, 1, 1, 1, cc[0]),
                (3, 1, 1, 1, cc[1]),
            ]

    hmax = max(p[1] for p in planes)
    vmax = max(p[2] for p in planes)
    mcux = -(-w_img // (8 * hmax))
    mcuy = -(-h_img // (8 * vmax))

    comps, coefs = [], {}
    for cid, hf, vf, tq, plane in planes:
        comps.append((cid, hf, vf, tq))
        padded = _pad_to_blocks(plane, mcuy * 8 * vf, mcux * 8 * hf)
        by, bx = mcuy * vf, mcux * hf
        arr = np.zeros((by, bx, 64), dtype=np.int64)
        for r in range(by):
            for c in range(bx):
                block = padded[r * 8 : r * 8 + 8, c * 8 : c * 8 + 8] - 128.0
                q = np.round((_D @ block @ _D.T) / quants[tq]).astype(np.int64)
                arr[r, c] = q.reshape(64)[_ZZ]
        coefs[cid] = arr
    return w_img, h_img, comps, quants, coefs, (hmax, vmax, mcux, mcuy)


def _frame_headers(w, h, comps, quants, huffs, sof_marker: bytes) -> bytearray:
    """SOI + APP0 + DQT + SOF + DHT — shared by both encoders."""
    out = bytearray(b"\xff\xd8")
    app0 = b"JFIF\x00" + struct.pack(">BBBHHBB", 1, 1, 0, 1, 1, 0, 0)
    out += b"\xff\xe0" + struct.pack(">H", 2 + len(app0)) + app0
    n_q = 1 if len(comps) == 1 else 2
    for tq, tab in enumerate(quants[:n_q]):
        body = bytes([tq]) + bytes(int(x) for x in tab.reshape(64)[_ZZ])
        out += b"\xff\xdb" + struct.pack(">H", 2 + len(body)) + body
    sof = struct.pack(">BHHB", 8, h, w, len(comps))
    for cid, hf, vf, tq in comps:
        sof += struct.pack(">BBB", cid, (hf << 4) | vf, tq)
    out += sof_marker + struct.pack(">H", 2 + len(sof)) + sof
    for tc_th, (bits, vals) in huffs:
        body = bytes([tc_th]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body
    return out


def _sos_header(scan_comps: list[tuple[int, int, int]], ss: int, se: int, ah: int, al: int) -> bytes:
    """SOS segment: [(cid, td, ta), ...] + spectral/approximation bytes."""
    body = bytes([len(scan_comps)])
    for cid, td, ta in scan_comps:
        body += bytes([cid, (td << 4) | ta])
    body += bytes([ss, se, (ah << 4) | al])
    return b"\xff\xda" + struct.pack(">H", 2 + len(body)) + body


def jpeg_encode(
    pixels: np.ndarray,
    quality: int = 85,
    subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """Encode an (h, w, 3) uint8 RGB or (h, w) grayscale array as a
    baseline sequential JFIF JPEG. ``subsampling`` is '444' or '420'
    (color only); ``restart_interval`` > 0 emits DRI + RSTn markers
    every that many MCUs — the fixture knob for the decoder's restart
    path."""
    if restart_interval < 0 or restart_interval > 0xFFFF:
        raise ValueError(f"bad restart interval {restart_interval}")
    w_img, h_img, comps, quants, coefs, (hmax, vmax, mcux, mcuy) = _plan_frame(
        pixels, quality, subsampling
    )
    gray = len(comps) == 1
    dc_enc = [_canonical_codes(*_HUFF_DC_LUMA), _canonical_codes(*_HUFF_DC_CHROMA)]
    ac_enc = [_canonical_codes(*_HUFF_AC_LUMA), _canonical_codes(*_HUFF_AC_CHROMA)]

    huffs = [(0x00, _HUFF_DC_LUMA), (0x10, _HUFF_AC_LUMA)]
    if not gray:
        huffs += [(0x01, _HUFF_DC_CHROMA), (0x11, _HUFF_AC_CHROMA)]
    out = _frame_headers(w_img, h_img, comps, quants, huffs, b"\xff\xc0")
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    # luma -> table set 0, chroma -> set 1 (mirrors tq here).
    out += _sos_header([(cid, tq, tq) for cid, _, _, tq in comps], 0, 63, 0, 0)

    writer = _BitWriter()
    preds = {cid: 0 for cid, *_ in comps}
    rst_idx = 0
    for m in range(mcux * mcuy):
        if restart_interval and m and m % restart_interval == 0:
            writer.pad_to_byte()
            writer.out += bytes([0xFF, 0xD0 + (rst_idx % 8)])
            rst_idx += 1
            preds = {cid: 0 for cid, *_ in comps}
        my, mx = divmod(m, mcux)
        for cid, hf, vf, tq in comps:
            for by in range(vf):
                for bx in range(hf):
                    zz = coefs[cid][my * vf + by, mx * hf + bx]
                    preds[cid] = _encode_block(
                        writer, zz, preds[cid], dc_enc[tq], ac_enc[tq]
                    )
    writer.pad_to_byte()
    out += writer.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# --- Progressive encoder -----------------------------------------------

# Flat Huffman tables covering EVERY symbol a progressive scan can emit
# (Annex-K's baseline tables lack the EOBn codes 0x10..0xE0). DHT
# carries tables in-file, so validity is all that matters for fixtures:
# 12 DC categories at 4 bits (codes 0..11, all-ones unused — legal) and
# all 256 rs bytes at 8/9 bits (255 @ 8 + 1 @ 9 keeps all-ones free).
_HUFF_DC_FLAT = ([0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0], list(range(12)))
_HUFF_AC_FLAT = (
    [0, 0, 0, 0, 0, 0, 0, 255, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(256)),
)


def _emit_eobrun(writer, ac, eobrun: int, pending: list[int]) -> int:
    """Flush a pending EOB run (EOBn code + extension bits) followed by
    the buffered correction bits — the order the refinement decoder
    consumes them in. Returns the reset run count (0)."""
    if eobrun:
        nbits = eobrun.bit_length() - 1
        code, ln = ac[nbits << 4]
        writer.write(code, ln)
        if nbits:
            writer.write(eobrun - (1 << nbits), nbits)
    for b in pending:
        writer.write(b, 1)
    pending.clear()
    return 0


def _emit_restart(writer, rst_idx: int) -> int:
    writer.pad_to_byte()
    writer.out += bytes([0xFF, 0xD0 + (rst_idx % 8)])
    return rst_idx + 1


def _encode_dc_scan(
    writer, comps, coefs, geom, dc_enc, ah: int, al: int, restart: int = 0
) -> None:
    """Interleaved DC scan: first pass (ah=0) codes diffs of coef0>>al
    (arithmetic shift — the spec's DC point transform); refinement
    passes emit one raw bit ((coef0>>al)&1) per block, no Huffman."""
    hmax, vmax, mcux, mcuy = geom
    preds = {cid: 0 for cid, *_ in comps}
    rst_idx = 0
    for m in range(mcux * mcuy):
        if restart and m and m % restart == 0:
            rst_idx = _emit_restart(writer, rst_idx)
            preds = {cid: 0 for cid, *_ in comps}
        my, mx = divmod(m, mcux)
        for cid, hf, vf, tq in comps:
            for by in range(vf):
                for bx in range(hf):
                    dc = int(coefs[cid][my * vf + by, mx * hf + bx, 0])
                    if ah == 0:
                        v = dc >> al
                        diff = v - preds[cid]
                        preds[cid] = v
                        s = _category(diff)
                        code, ln = dc_enc[tq][s]
                        writer.write(code, ln)
                        if s:
                            writer.write(
                                diff if diff > 0 else diff + (1 << s) - 1, s
                            )
                    else:
                        writer.write((dc >> al) & 1, 1)


def _true_blocks(cid, comps, geom, w_img, h_img):
    """(bh, bw) TRUE block dims for non-interleaved scans: ceil of the
    component's own sample dims / 8 (no MCU padding — T.81 A.2.2)."""
    hmax, vmax, _, _ = geom
    hf, vf = next((c[1], c[2]) for c in comps if c[0] == cid)
    cw = -(-w_img * hf // hmax)
    ch = -(-h_img * vf // vmax)
    return -(-ch // 8), -(-cw // 8)


def _encode_ac_first(writer, blocks, ss, se, al, ac, restart: int = 0) -> None:
    """AC first scan (ah=0) for one component: run-length with EOBn
    run accumulation; values point-transformed sign*(|v|>>al)."""
    eobrun = 0
    rst_idx = 0
    for n, zz in enumerate(blocks):
        if restart and n and n % restart == 0:
            eobrun = _emit_eobrun(writer, ac, eobrun, [])
            rst_idx = _emit_restart(writer, rst_idx)
        t = [
            (1 if v > 0 else -1) * (abs(int(v)) >> al)
            for v in zz[ss : se + 1]
        ]
        last = max((i for i, v in enumerate(t) if v), default=-1)
        if last < 0:
            eobrun += 1
            if eobrun == 0x7FFF:
                eobrun = _emit_eobrun(writer, ac, eobrun, [])
            continue
        eobrun = _emit_eobrun(writer, ac, eobrun, [])
        r = 0
        for i in range(last + 1):
            v = t[i]
            if v == 0:
                r += 1
                continue
            while r > 15:
                code, ln = ac[0xF0]
                writer.write(code, ln)
                r -= 16
            s = _category(v)
            code, ln = ac[(r << 4) | s]
            writer.write(code, ln)
            writer.write(v if v > 0 else v + (1 << s) - 1, s)
            r = 0
        if last < se - ss:
            eobrun += 1
            if eobrun == 0x7FFF:
                eobrun = _emit_eobrun(writer, ac, eobrun, [])
    _emit_eobrun(writer, ac, eobrun, [])


def _encode_ac_refine(writer, blocks, ss, se, al, ac, restart: int = 0) -> None:
    """AC refinement scan (ah = al+1): newly-significant coefficients
    (|v|>>al == 1) are coded with s=1 + a sign bit; already-nonzero
    history coefficients each contribute one correction bit
    ((|v|>>al)&1). TWO bit buffers keep the decoder's consumption order
    exact (T.81 G.1.2.3 / the jcphuff.c discipline): ``eob_bits`` travel
    with the next EOBn code (they belong to blocks folded into the EOB
    run), ``cur_bits`` with the next ZRL/rs code of the current block —
    and the ZRL check runs at EVERY nonzero position (history included),
    which is what keeps each ZRL's 16-zero walk aligned with the bits
    flushed behind it."""
    eobrun = 0
    eob_bits: list[int] = []  # travel with the next EOBn
    cur_bits: list[int] = []  # travel with the next ZRL / rs code
    rst_idx = 0

    def flush_eobrun() -> None:
        nonlocal eobrun
        eobrun = _emit_eobrun(writer, ac, eobrun, eob_bits)

    for n, zz in enumerate(blocks):
        if restart and n and n % restart == 0:
            flush_eobrun()
            rst_idx = _emit_restart(writer, rst_idx)
        band = [int(v) for v in zz[ss : se + 1]]
        t = [abs(v) >> al for v in band]
        eob = max((i for i, v in enumerate(t) if v == 1), default=-1)
        r = 0
        for i, tv in enumerate(t):
            if tv == 0:
                r += 1
                continue
            while r > 15 and i <= eob:
                flush_eobrun()
                code, ln = ac[0xF0]
                writer.write(code, ln)
                r -= 16
                for b in cur_bits:
                    writer.write(b, 1)
                cur_bits.clear()
            if tv > 1:  # history coefficient: one buffered correction bit
                cur_bits.append(tv & 1)
                continue
            # newly significant (tv == 1)
            flush_eobrun()
            code, ln = ac[(r << 4) | 1]
            writer.write(code, ln)
            writer.write(1 if band[i] > 0 else 0, 1)
            for b in cur_bits:
                writer.write(b, 1)
            cur_bits.clear()
            r = 0
        if r > 0 or cur_bits:  # block tail folds into the EOB run
            eobrun += 1
            eob_bits.extend(cur_bits)
            cur_bits.clear()
            if eobrun == 0x7FFF or len(eob_bits) > 900:
                flush_eobrun()
    flush_eobrun()
    assert not cur_bits


def jpeg_encode_progressive(
    pixels: np.ndarray,
    quality: int = 85,
    subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """Encode as PROGRESSIVE JPEG (SOF2) with both progressive devices:
    spectral selection (DC scan, then AC bands 1-5 and 6-63 per
    component) and successive approximation (everything first at Al=1,
    then DC and AC refinement scans down to Al=0). The entropy coding
    is lossless over the same quantized coefficients the baseline
    encoder emits, so ``jpeg_decode`` must reconstruct EXACTLY the
    pixels of the baseline encoding — the equality oracle the tests
    lean on. ``restart_interval`` emits DRI + RSTn every that many MCUs
    (DC scans) / blocks (AC scans) — the fixture knob for the decoder's
    progressive restart paths."""
    if restart_interval < 0 or restart_interval > 0xFFFF:
        raise ValueError(f"bad restart interval {restart_interval}")
    w_img, h_img, comps, quants, coefs, geom = _plan_frame(
        pixels, quality, subsampling
    )
    dc_flat = _canonical_codes(*_HUFF_DC_FLAT)
    ac_flat = _canonical_codes(*_HUFF_AC_FLAT)
    out = _frame_headers(
        w_img, h_img, comps, quants,
        [(0x00, _HUFF_DC_FLAT), (0x10, _HUFF_AC_FLAT)],
        b"\xff\xc2",
    )
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)

    def scan(header: bytes, body_fn) -> None:
        nonlocal out
        out += header
        writer = _BitWriter()
        body_fn(writer)
        writer.pad_to_byte()
        out += writer.out

    dc_tabs = {cid: 0 for cid, *_ in comps}
    # 1. DC first, interleaved, Al=1.
    scan(
        _sos_header([(cid, 0, 0) for cid, *_ in comps], 0, 0, 0, 1),
        lambda wtr: _encode_dc_scan(
            wtr, comps, coefs, geom, [dc_flat, dc_flat], 0, 1,
            restart_interval,
        ),
    )
    # 2. AC first per component, two spectral bands, Al=1.
    for ss, se in ((1, 5), (6, 63)):
        for cid, *_ in comps:
            bh, bw = _true_blocks(cid, comps, geom, w_img, h_img)
            blocks = [coefs[cid][r, c] for r in range(bh) for c in range(bw)]
            scan(
                _sos_header([(cid, 0, 0)], ss, se, 0, 1),
                lambda wtr, b=blocks, a=ss, z=se: _encode_ac_first(
                    wtr, b, a, z, 1, ac_flat, restart_interval
                ),
            )
    # 3. DC refinement to full precision (Ah=1, Al=0).
    scan(
        _sos_header([(cid, 0, 0) for cid, *_ in comps], 0, 0, 1, 0),
        lambda wtr: _encode_dc_scan(
            wtr, comps, coefs, geom, [dc_flat, dc_flat], 1, 0,
            restart_interval,
        ),
    )
    # 4. AC refinement per component over the full band (Ah=1, Al=0).
    for cid, *_ in comps:
        bh, bw = _true_blocks(cid, comps, geom, w_img, h_img)
        blocks = [coefs[cid][r, c] for r in range(bh) for c in range(bw)]
        scan(
            _sos_header([(cid, 0, 0)], 1, 63, 1, 0),
            lambda wtr, b=blocks: _encode_ac_refine(
                wtr, b, 1, 63, 0, ac_flat, restart_interval
            ),
        )
    out += b"\xff\xd9"
    return bytes(out)


# --- Decoder ---------------------------------------------------------------

_SOF_UNSUPPORTED = {
    0xC3: "lossless JPEG (SOF3)",
    0xC5: "differential sequential JPEG (SOF5)",
    0xC6: "differential progressive JPEG (SOF6)",
    0xC7: "differential lossless JPEG (SOF7)",
    0xC9: "arithmetic-coded JPEG (SOF9)",
    0xCA: "arithmetic-coded progressive JPEG (SOF10)",
    0xCB: "arithmetic-coded lossless JPEG (SOF11)",
    0xCD: "differential arithmetic JPEG (SOF13)",
    0xCE: "differential arithmetic progressive JPEG (SOF14)",
    0xCF: "differential arithmetic lossless JPEG (SOF15)",
}


class _Frame:
    """Decoder frame state: geometry + per-component ZIGZAG coefficient
    arrays at the MCU-padded block grid (progressive scans accumulate
    into them; the sequential scan fills them in one pass)."""

    def __init__(self, progressive, h, w, comps):
        self.progressive = progressive
        self.h, self.w = h, w
        self.comps = comps  # [(cid, hf, vf, tq)]
        self.hmax = max(c[1] for c in comps)
        self.vmax = max(c[2] for c in comps)
        self.mcux = -(-w // (8 * self.hmax))
        self.mcuy = -(-h // (8 * self.vmax))
        self.coefs = {
            cid: np.zeros((self.mcuy * vf, self.mcux * hf, 64), dtype=np.int64)
            for cid, hf, vf, _ in comps
        }

    def comp(self, cid):
        for c in self.comps:
            if c[0] == cid:
                return c
        raise ValueError(f"JPEG scan references unknown component {cid}")

    def true_blocks(self, cid):
        """Block dims WITHOUT MCU padding — the grid non-interleaved
        scans cover (T.81 A.2.2)."""
        _, hf, vf, _ = self.comp(cid)
        cw = -(-self.w * hf // self.hmax)
        ch = -(-self.h * vf // self.vmax)
        return -(-ch // 8), -(-cw // 8)


def _scan_sequential(reader, frame, scomps, dc_tabs, ac_tabs, restart):
    """Baseline scan: full-band DC+AC per block, MCU-interleaved, into
    the coefficient arrays (zigzag order)."""
    preds = {cid: 0 for cid, _, _ in scomps}
    rst = 0
    for m in range(frame.mcux * frame.mcuy):
        if restart and m and m % restart == 0:
            reader.expect_restart(rst)
            rst += 1
            preds = {cid: 0 for cid, _, _ in scomps}
        my, mx = divmod(m, frame.mcux)
        for cid, td, ta in scomps:
            _, hf, vf, _ = frame.comp(cid)
            for by in range(vf):
                for bx in range(hf):
                    zz, preds[cid] = _decode_block(
                        reader, dc_tabs[td], ac_tabs[ta], preds[cid]
                    )
                    frame.coefs[cid][my * vf + by, mx * hf + bx] = zz


def _scan_blocks(frame, scomps):
    """Yield (cid, by, bx) in scan order: MCU-interleaved for a
    multi-component scan, true-grid raster for a single-component one."""
    if len(scomps) > 1:
        for m in range(frame.mcux * frame.mcuy):
            my, mx = divmod(m, frame.mcux)
            for cid, *_ in scomps:
                _, hf, vf, _ = frame.comp(cid)
                for by in range(vf):
                    for bx in range(hf):
                        yield cid, my * vf + by, mx * hf + bx
    else:
        cid = scomps[0][0]
        bh, bw = frame.true_blocks(cid)
        for by in range(bh):
            for bx in range(bw):
                yield cid, by, bx


def _scan_dc(reader, frame, scomps, dc_tabs, ah, al, restart):
    """Progressive DC scan: first pass (ah=0) decodes diffs in the
    point-transformed domain and stores pred<<al; refinement passes read
    one raw bit per block and OR it in at bit al."""
    preds = {cid: 0 for cid, *_ in scomps}
    rst = 0
    n_units = 0
    per_mcu = (
        sum(frame.comp(cid)[1] * frame.comp(cid)[2] for cid, *_ in scomps)
        if len(scomps) > 1
        else 1
    )
    for cid, by, bx in _scan_blocks(frame, scomps):
        if restart and n_units and n_units % (restart * per_mcu) == 0:
            reader.expect_restart(rst)
            rst += 1
            preds = {cid2: 0 for cid2, *_ in scomps}
        n_units += 1
        if ah == 0:
            td = next(t for c, t, _ in scomps if c == cid)
            s = _read_huff(reader, dc_tabs[td])
            if s > 15:
                raise ValueError(f"bad JPEG DC category {s}")
            preds[cid] += _extend(reader.read_bits(s), s) if s else 0
            frame.coefs[cid][by, bx, 0] = preds[cid] << al
        else:
            if reader.read_bit():
                frame.coefs[cid][by, bx, 0] |= 1 << al


def _scan_ac_first(reader, frame, scomps, ac_tabs, ss, se, al, restart):
    """Progressive AC first scan (ah=0): run-length + EOBn run codes,
    values stored <<al (T.81 G.1.2.2)."""
    cid, _, ta = scomps[0]
    ac = ac_tabs[ta]
    block = frame.coefs[cid]
    eobrun = 0
    rst = 0
    for n, (_, by, bx) in enumerate(_scan_blocks(frame, scomps)):
        if restart and n and n % restart == 0:
            reader.expect_restart(rst)
            rst += 1
            eobrun = 0
        if eobrun > 0:
            eobrun -= 1
            continue
        k = ss
        while k <= se:
            rs = _read_huff(reader, ac)
            r, s = rs >> 4, rs & 0x0F
            if s == 0:
                if r == 15:  # ZRL
                    k += 16
                    continue
                eobrun = (1 << r) - 1
                if r:
                    eobrun += reader.read_bits(r)
                break
            k += r
            if k > se:
                raise ValueError("JPEG AC run past the spectral band")
            block[by, bx, k] = _extend(reader.read_bits(s), s) << al
            k += 1


def _scan_ac_refine(reader, frame, scomps, ac_tabs, ss, se, al, restart):
    """Progressive AC refinement scan (ah = al+1): the correction-bit
    walk of T.81 G.1.2.3 — newly-significant coefficients arrive with
    s=1 codes, every already-nonzero coefficient passed reads one
    correction bit, EOBn runs correct all remaining nonzeros."""
    cid, _, ta = scomps[0]
    ac = ac_tabs[ta]
    block = frame.coefs[cid]
    p1, m1 = 1 << al, -1 << al
    eobrun = 0
    rst = 0

    def correct(by, bx, k):
        c = int(block[by, bx, k])
        if c != 0 and reader.read_bit() and (c & p1) == 0:
            block[by, bx, k] = c + (p1 if c >= 0 else m1)
            return True
        return c != 0

    for n, (_, by, bx) in enumerate(_scan_blocks(frame, scomps)):
        if restart and n and n % restart == 0:
            reader.expect_restart(rst)
            rst += 1
            eobrun = 0
        k = ss
        if eobrun == 0:
            while k <= se:
                rs = _read_huff(reader, ac)
                r, s = rs >> 4, rs & 0x0F
                val = 0
                if s == 0:
                    if r != 15:
                        eobrun = 1 << r
                        if r:
                            eobrun += reader.read_bits(r)
                        break
                    # r == 15: skip 16 zero-history coefficients
                else:
                    if s != 1:
                        raise ValueError(
                            "JPEG AC refinement code with magnitude > 1"
                        )
                    val = p1 if reader.read_bit() else m1
                while k <= se:
                    if int(block[by, bx, k]) != 0:
                        correct(by, bx, k)
                    else:
                        r -= 1
                        if r < 0:
                            break
                    k += 1
                if s and k <= se:
                    block[by, bx, k] = val
                k += 1
        if eobrun > 0:
            while k <= se:
                correct(by, bx, k)
                k += 1
            eobrun -= 1


def jpeg_decode(content: bytes) -> np.ndarray:
    """Decode a baseline (SOF0/1) or PROGRESSIVE (SOF2) JPEG to
    (h, w, 3) uint8 RGB (grayscale replicated across channels).
    Progressive support is complete: spectral selection, successive
    approximation (DC and AC first + refinement scans, EOBn run codes),
    interleaved DC scans, restart markers, tables redefined between
    scans. See the module docstring for the ValueError /
    NotImplementedError quarantine contract."""
    if len(content) < 4 or content[:3] != b"\xff\xd8\xff":
        raise ValueError("not a JPEG payload (missing SOI magic)")
    pos = 2
    quants: dict[int, np.ndarray] = {}
    dc_tabs: dict[int, dict[tuple[int, int], int]] = {}
    ac_tabs: dict[int, dict[tuple[int, int], int]] = {}
    frame: _Frame | None = None
    restart_interval = 0
    saw_scan = False

    while pos + 2 <= len(content):
        if content[pos] != 0xFF:
            raise ValueError(f"bad JPEG marker byte at {pos}")
        m = content[pos + 1]
        if m == 0xD8 or (0xD0 <= m <= 0xD7):  # SOI / stray RST: no segment
            pos += 2
            continue
        if m == 0xD9:  # EOI
            break
        if pos + 4 > len(content):
            raise ValueError("truncated JPEG segment header")
        seg_len = struct.unpack_from(">H", content, pos + 2)[0]
        if seg_len < 2 or pos + 2 + seg_len > len(content):
            raise ValueError(f"truncated JPEG segment 0xFF{m:02X}")
        body = content[pos + 4 : pos + 2 + seg_len]
        if m == 0xDB:  # DQT (possibly several tables)
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                if pq == 1:
                    raise NotImplementedError("16-bit JPEG quantization tables")
                if pq != 0 or tq > 3 or i + 65 > len(body):
                    raise ValueError("bad JPEG DQT segment")
                tab = np.zeros(64, dtype=np.int64)
                tab[_ZZ] = np.frombuffer(body, np.uint8, 64, i + 1)
                quants[tq] = tab.reshape(8, 8)
                i += 65
        elif m == 0xC4:  # DHT (possibly several tables)
            i = 0
            while i < len(body):
                if i + 17 > len(body):
                    raise ValueError("bad JPEG DHT segment")
                tc, th = body[i] >> 4, body[i] & 0x0F
                bits = list(body[i + 1 : i + 17])
                n = sum(bits)
                if tc > 1 or th > 3 or i + 17 + n > len(body):
                    raise ValueError("bad JPEG DHT segment")
                vals = list(body[i + 17 : i + 17 + n])
                (ac_tabs if tc else dc_tabs)[th] = _decode_table(bits, vals)
                i += 17 + n
        elif m in (0xC0, 0xC1, 0xC2):  # sequential / progressive frames
            if frame is not None:
                raise ValueError("JPEG with multiple SOF segments")
            if len(body) < 6:
                raise ValueError("bad JPEG SOF segment")
            prec, h_img, w_img, nc = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise NotImplementedError(f"{prec}-bit JPEG precision")
            if nc not in (1, 3):
                raise NotImplementedError(f"{nc}-component JPEG")
            if len(body) != 6 + 3 * nc or h_img < 1 or w_img < 1:
                raise ValueError("bad JPEG SOF segment")
            comps = []
            for c in range(nc):
                cid, hv, tq = struct.unpack_from(">BBB", body, 6 + 3 * c)
                hf, vf = hv >> 4, hv & 0x0F
                if hf not in (1, 2) or vf not in (1, 2):
                    raise NotImplementedError(
                        f"JPEG sampling factors {hf}x{vf} (only 1..2 supported)"
                    )
                comps.append((cid, hf, vf, tq))
            frame = _Frame(m == 0xC2, h_img, w_img, comps)
        elif m in _SOF_UNSUPPORTED:
            raise NotImplementedError(f"{_SOF_UNSUPPORTED[m]} is not decoded natively")
        elif m == 0xDD:  # DRI
            if len(body) != 2:
                raise ValueError("bad JPEG DRI segment")
            restart_interval = struct.unpack(">H", body)[0]
        elif m == 0xDA:  # SOS: header, then the entropy-coded segment
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = body[0] if body else -1
            if ns < 1 or len(body) != 1 + 2 * ns + 3:
                raise ValueError("bad JPEG SOS segment")
            scomps = []
            for c in range(ns):
                cid, tdta = body[1 + 2 * c], body[2 + 2 * c]
                frame.comp(cid)  # validates the id
                scomps.append((cid, tdta >> 4, tdta & 0x0F))
            ss, se, ahal = body[1 + 2 * ns : 4 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0x0F
            for cid, td, ta in scomps:
                if (ss == 0 and ah == 0 and td not in dc_tabs) or (
                    se > 0 and ss <= 63 and not frame.progressive and ta not in ac_tabs
                ):
                    raise ValueError("JPEG scan references a missing DHT")
            reader = _BitReader(content, pos + 2 + seg_len)
            if not frame.progressive:
                if ns != len(frame.comps) or (ss, se, ahal) != (0, 63, 0):
                    raise ValueError("bad JPEG sequential scan parameters")
                _scan_sequential(
                    reader, frame, scomps, dc_tabs, ac_tabs, restart_interval
                )
            elif ss == 0:
                if se != 0 or ah > 13 or al > 13 or (ah and ah != al + 1):
                    raise ValueError("bad JPEG progressive DC scan parameters")
                _scan_dc(
                    reader, frame, scomps, dc_tabs, ah, al, restart_interval
                )
            else:
                if (
                    ns != 1
                    or not 1 <= ss <= se <= 63
                    or al > 13
                    or (ah and ah != al + 1)
                ):
                    raise ValueError("bad JPEG progressive AC scan parameters")
                if scomps[0][2] not in ac_tabs:
                    raise ValueError("JPEG scan references a missing DHT")
                scan_fn = _scan_ac_refine if ah else _scan_ac_first
                scan_fn(
                    reader, frame, scomps, ac_tabs, ss, se, al,
                    restart_interval,
                )
            saw_scan = True
            pos = reader.pos
            continue
        # APPn / COM / anything else with a length: skip.
        pos += 2 + seg_len

    if frame is None or not saw_scan:
        raise ValueError("JPEG missing SOF/SOS")
    for cid, hf, vf, tq in frame.comps:
        if tq not in quants:
            raise ValueError(f"JPEG component {cid} references missing DQT {tq}")

    # Reconstruct: dequantize + IDCT every block, then upsample + compose.
    planes = {}
    for cid, hf, vf, tq in frame.comps:
        arr = frame.coefs[cid]
        bh, bw = arr.shape[:2]
        plane = np.zeros((bh * 8, bw * 8), dtype=np.float64)
        q = quants[tq]
        for by in range(bh):
            for bx in range(bw):
                nat = np.zeros(64, dtype=np.int64)
                nat[_ZZ] = arr[by, bx]
                plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                    _D.T @ (nat.reshape(8, 8) * q) @ _D + 128.0
                )
        if hf < frame.hmax or vf < frame.vmax:
            plane = np.repeat(
                np.repeat(plane, frame.vmax // vf, axis=0),
                frame.hmax // hf,
                axis=1,
            )
        planes[cid] = plane[: frame.h, : frame.w]
    if len(frame.comps) == 1:
        g = np.clip(np.round(planes[frame.comps[0][0]]), 0, 255).astype(np.uint8)
        return np.repeat(g[:, :, None], 3, axis=2)
    c1, c2, c3 = (planes[c[0]] for c in frame.comps)
    return _ycbcr_to_rgb(c1, c2, c3)
