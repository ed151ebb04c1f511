"""GIF codec — REAL, zero-dependency (pure Python LZW + numpy).

GIF87a/89a is LZW-compressed palette indices inside a block structure —
all implementable with integer arithmetic: the variable-width LSB-first
LZW coder, the logical-screen/image-descriptor walk, graphics-control
extensions (frame delay, transparency, disposal), local color tables
and the 4-pass row interlace. Sibling of media_codecs/jpeg.py.

- ``gif_decode``: full composition semantics — frames are drawn onto
  the logical screen honoring per-frame sub-rectangles, transparency
  and disposal methods 0/1 (leave), 2 (restore background) and 3
  (restore previous). Returns ((n, h, w, 3) uint8 RGB frames — the
  COMPOSED screen after each frame — plus per-frame delays in ms).
- ``gif_encode``: frames quantize-free (input colors must fit a 256-
  entry palette built from the frames themselves — fixture generator,
  like the other encoders), full-frame images, optional loop/delay.
- Quarantine contract, as in media_codecs/jpeg.py: malformed
  payloads raise ValueError (bad magic, truncated blocks, LZW code
  stream errors), never a raw struct/index error.
"""

from __future__ import annotations

import struct

import numpy as np

_GIF_INTERLACE_PASSES = [(0, 8), (4, 8), (2, 4), (1, 2)]


# --- LZW -------------------------------------------------------------------


def _lzw_decode(data: bytes, min_code_size: int, n_expected: int) -> np.ndarray:
    """GIF-flavor LZW: variable code width (min+1 .. 12), LSB-first bit
    packing, CLEAR/EOI codes, dictionary rebuilt on CLEAR. Returns
    exactly ``n_expected`` indices or raises ValueError."""
    if not 2 <= min_code_size <= 11:
        raise ValueError(f"bad GIF LZW minimum code size {min_code_size}")
    clear = 1 << min_code_size
    eoi = clear + 1
    out = np.zeros(n_expected, dtype=np.uint8)
    n_out = 0

    # Bit reader state over the concatenated sub-block data.
    acc = 0
    nbits = 0
    pos = 0

    def read_code(width: int) -> int:
        nonlocal acc, nbits, pos
        while nbits < width:
            if pos >= len(data):
                raise ValueError("GIF LZW stream truncated")
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        return code

    # dictionary: code -> bytes (as a list for O(1) append)
    def fresh() -> list[bytes | None]:
        d: list[bytes | None] = [bytes([i]) for i in range(clear)]
        d += [None, None]  # clear, eoi placeholders
        return d

    table = fresh()
    width = min_code_size + 1
    prev: bytes | None = None
    while True:
        code = read_code(width)
        if code == clear:
            table = fresh()
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table) or table[code] is None:
                raise ValueError("GIF LZW: first code not a literal")
            entry = table[code]
        elif code < len(table) and table[code] is not None:
            entry = table[code]
        elif code == len(table):
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise ValueError(f"GIF LZW: code {code} out of range")
        if n_out + len(entry) > n_expected:
            raise ValueError("GIF LZW: more pixels than the frame declares")
        out[n_out : n_out + len(entry)] = np.frombuffer(entry, np.uint8)
        n_out += len(entry)
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    if n_out != n_expected:
        raise ValueError(
            f"GIF LZW: {n_out} pixels decoded, frame declares {n_expected}"
        )
    return out


def _lzw_encode(indices: np.ndarray, min_code_size: int) -> bytes:
    """GIF-flavor LZW encoder (the fixture-side twin of _lzw_decode)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    width = min_code_size + 1
    emit(clear, width)
    w = b""
    for b in indices.astype(np.uint8).tobytes():
        wk = w + bytes([b])
        if wk in table:
            w = wk
            continue
        emit(table[w], width)
        if next_code < 4096:
            table[wk] = next_code
            if next_code == (1 << width) and width < 12:
                width += 1
            next_code += 1
        else:  # table full: send CLEAR and restart (keeps decoder in sync)
            emit(clear, width)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
        w = bytes([b])
    if w:
        emit(table[w], width)
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _sub_blocks(payload: bytes) -> bytes:
    """Wrap a byte stream into <=255-byte GIF sub-blocks + terminator."""
    out = bytearray()
    for i in range(0, len(payload), 255):
        chunk = payload[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


# --- Encoder -----------------------------------------------------------------


def gif_encode(
    frames: np.ndarray, delay_ms: int = 100, loop: bool = True
) -> bytes:
    """Encode (n, h, w, 3) or (h, w, 3) uint8 RGB as GIF89a. The global
    palette is built from the frames' distinct colors (must be <= 256 —
    the fixture-generator contract; real pipelines quantize upstream)."""
    if frames.ndim == 3:
        frames = frames[None]
    if frames.ndim != 4 or frames.shape[3] != 3:
        raise ValueError(f"expected (n, h, w, 3) RGB array, got {frames.shape}")
    if delay_ms < 0:
        raise ValueError(f"bad delay {delay_ms}")
    n, h, w = frames.shape[:3]
    flat = frames.reshape(-1, 3)
    palette, inverse = np.unique(flat, axis=0, return_inverse=True)
    if palette.shape[0] > 256:
        raise ValueError(
            f"gif_encode palette overflow: {palette.shape[0]} distinct "
            f"colors (>256); quantize upstream"
        )
    size_pow = max(2, int(palette.shape[0] - 1).bit_length())  # >= 4 entries
    table = np.zeros((1 << size_pow, 3), dtype=np.uint8)
    table[: palette.shape[0]] = palette
    idx_frames = inverse.reshape(n, h, w)

    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (size_pow - 1), 0, 0)
    out += table.tobytes()
    if loop:  # Netscape application extension
        out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    min_code = max(2, size_pow)
    for f in range(n):
        out += b"\x21\xf9" + struct.pack(
            "<BBHBB", 4, 0x04, delay_ms // 10, 0, 0  # disposal 1, no transparency
        )
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
        out.append(min_code)
        out += _sub_blocks(_lzw_encode(idx_frames[f].reshape(-1), min_code))
    out += b"\x3b"
    return bytes(out)


# --- Decoder -----------------------------------------------------------------


def _read_sub_blocks(content: bytes, pos: int) -> tuple[bytes, int]:
    parts = []
    while True:
        if pos >= len(content):
            raise ValueError("truncated GIF sub-block stream")
        n = content[pos]
        pos += 1
        if n == 0:
            break
        if pos + n > len(content):
            raise ValueError("truncated GIF sub-block")
        parts.append(content[pos : pos + n])
        pos += n
    return b"".join(parts), pos


def gif_decode(content: bytes) -> tuple[np.ndarray, list[int]]:
    """Decode GIF87a/89a to ((n, h, w, 3) uint8 composed frames,
    per-frame delay in ms). Honors sub-rectangle frames, local color
    tables, transparency, interlace and disposal methods 0-3; malformed
    payloads raise ValueError (the quarantine contract)."""
    if len(content) < 13 or content[:4] != b"GIF8" or content[4:6] not in (b"7a", b"9a"):
        raise ValueError("not a GIF payload (missing GIF87a/89a magic)")
    w, h, packed, bg, _ = struct.unpack_from("<HHBBB", content, 6)
    if w < 1 or h < 1:
        raise ValueError(f"bad GIF dimensions {w}x{h}")
    pos = 13
    global_table = None
    if packed & 0x80:
        size = 2 << (packed & 0x07)
        if pos + 3 * size > len(content):
            raise ValueError("truncated GIF global color table")
        global_table = np.frombuffer(
            content, np.uint8, 3 * size, pos
        ).reshape(size, 3)
        pos += 3 * size

    canvas = np.zeros((h, w, 3), dtype=np.uint8)
    if global_table is not None and bg < global_table.shape[0]:
        canvas[:] = global_table[bg]
    frames: list[np.ndarray] = []
    delays: list[int] = []
    # pending graphics-control state for the NEXT image
    transparent: int | None = None
    disposal = 0
    delay_ms = 0

    while True:
        if pos >= len(content):
            raise ValueError("GIF missing trailer")
        block = content[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension
            if pos >= len(content):
                raise ValueError("truncated GIF extension")
            label = content[pos]
            pos += 1
            body, pos = _read_sub_blocks(content, pos)
            if label == 0xF9:  # graphics control
                if len(body) < 4:
                    raise ValueError("bad GIF graphics control extension")
                gc_packed, delay_cs, tr_idx = struct.unpack_from("<BHB", body, 0)
                disposal = (gc_packed >> 2) & 0x07
                transparent = tr_idx if gc_packed & 0x01 else None
                delay_ms = delay_cs * 10
            continue
        if block != 0x2C:
            raise ValueError(f"unknown GIF block 0x{block:02X}")
        # image descriptor
        if pos + 9 > len(content):
            raise ValueError("truncated GIF image descriptor")
        left, top, fw, fh, ipacked = struct.unpack_from("<HHHHB", content, pos)
        pos += 9
        if left + fw > w or top + fh > h or fw < 1 or fh < 1:
            raise ValueError("GIF frame rectangle outside the logical screen")
        table = global_table
        if ipacked & 0x80:
            size = 2 << (ipacked & 0x07)
            if pos + 3 * size > len(content):
                raise ValueError("truncated GIF local color table")
            table = np.frombuffer(content, np.uint8, 3 * size, pos).reshape(size, 3)
            pos += 3 * size
        if table is None:
            raise ValueError("GIF frame has no color table")
        if pos >= len(content):
            raise ValueError("truncated GIF image data")
        min_code = content[pos]
        pos += 1
        data, pos = _read_sub_blocks(content, pos)
        idx = _lzw_decode(data, min_code, fw * fh)
        if int(idx.max()) >= table.shape[0]:
            raise ValueError("GIF pixel index outside the color table")
        if ipacked & 0x40:  # interlaced: reorder rows via the 4 passes
            rows = idx.reshape(fh, fw)
            deinter = np.zeros_like(rows)
            src = 0
            for start, step in _GIF_INTERLACE_PASSES:
                n_rows = len(range(start, fh, step))
                deinter[start::step] = rows[src : src + n_rows]
                src += n_rows
            idx = deinter.reshape(-1)
        rect = idx.reshape(fh, fw)
        before = canvas.copy() if disposal == 3 else None
        region = canvas[top : top + fh, left : left + fw]
        rgb = table[rect]
        if transparent is not None:
            mask = (rect != transparent)[:, :, None]
            region[:] = np.where(mask, rgb, region)
        else:
            region[:] = rgb
        frames.append(canvas.copy())
        delays.append(delay_ms)
        # dispose for the NEXT frame
        if disposal == 2:
            bg_rgb = (
                table[bg] if bg < table.shape[0] else np.zeros(3, np.uint8)
            )
            canvas[top : top + fh, left : left + fw] = bg_rgb
        elif disposal == 3:
            canvas = before
        transparent, disposal, delay_ms = None, 0, 0
    if not frames:
        raise ValueError("GIF has no image frames")
    return np.stack(frames), delays
