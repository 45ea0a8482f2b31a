"""Minimal pure-Python GIF codec (public GIF87a/89a specification).

Closes the last raster-format gap the r4 verdict listed (GIF routed by
`multimodal.sniff_mime_sql` but pixel decode gated on absent PIL): the
container ships no image libraries, and GIF needs none — its only
compression is LZW, implemented here directly from the spec.

  * decode_gif: GIF87a + GIF89a; global and local color tables;
    interlaced and sequential scan; GIF89a Graphic Control Extension
    transparency (output becomes RGBA); returns the FIRST frame
    composited onto the logical screen (animation = repeated image
    blocks; frame k>0 sampling is frame_sample's job, byte-level).
  * encode_gif: single-frame GIF89a from a uint8 (H, W) palette-index
    array + palette, real variable-width LZW with code-table resets —
    the round-trip test exercises every decoder branch including a
    dictionary rollover past 12-bit width.

Reference provenance (behavioral, not code): the reference engine has
no media path at all — this module exists for the multimodal
train-data pipeline (SURVEY.md §2.11), same rationale as pycore/png.py
and pycore/jpeg.py.
"""

from __future__ import annotations

import struct

import numpy as np

_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


class _BitReader:
    """LSB-first bit reader over the concatenated image sub-blocks."""

    def __init__(self, data: bytes) -> None:
        self._data = data
        self._pos = 0
        self._bit = 0

    def read(self, n: int) -> int:
        out = 0
        got = 0
        while got < n:
            if self._pos >= len(self._data):
                raise ValueError("GIF: LZW stream truncated")
            byte = self._data[self._pos]
            avail = 8 - self._bit
            take = min(n - got, avail)
            out |= ((byte >> self._bit) & ((1 << take) - 1)) << got
            got += take
            self._bit += take
            if self._bit == 8:
                self._bit = 0
                self._pos += 1
        return out


def _read_subblocks(data: bytes, pos: int) -> tuple[bytes, int]:
    chunks = []
    while True:
        if pos >= len(data):
            raise ValueError("GIF: truncated sub-block chain")
        n = data[pos]
        pos += 1
        if n == 0:
            break
        chunks.append(data[pos : pos + n])
        pos += n
    return b"".join(chunks), pos


def _lzw_decode(min_code_size: int, data: bytes, n_pixels: int) -> bytearray:
    """GIF variable-width LZW (spec appendix F): codes start at
    min_code_size+1 bits, grow after the table fills each width, cap at
    12 bits; CLEAR resets the table, END terminates."""
    clear = 1 << min_code_size
    end = clear + 1
    bits = _BitReader(data)
    out = bytearray()

    def fresh() -> tuple[list[bytes], int]:
        return [bytes([i]) for i in range(clear)] + [b"", b""], min_code_size + 1

    table, width = fresh()
    prev: bytes | None = None
    while len(out) < n_pixels:
        code = bits.read(width)
        if code == clear:
            table, width = fresh()
            prev = None
            continue
        if code == end:
            break
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
        else:
            raise ValueError("GIF: invalid LZW code")
        out += entry
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    return out


def decode_gif(data: bytes) -> np.ndarray:
    """GIF bytes → uint8 ndarray (H, W, 3) RGB, or (H, W, 4) RGBA when
    the first frame's Graphic Control Extension declares a transparent
    index. Raises ValueError on non-GIF input or a truncated stream."""
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF: bad signature")
    sw, sh, packed, bg_index, _aspect = struct.unpack_from("<HHBBB", data, 6)
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(data, np.uint8, 3 * n, pos).reshape(n, 3)
        pos += 3 * n

    transparent: int | None = None
    while pos < len(data):
        block = data[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension
            label = data[pos]
            pos += 1
            body, pos = _read_subblocks(data, pos)
            if label == 0xF9 and len(body) >= 4:  # graphic control
                if body[0] & 0x01:
                    transparent = body[3]
            continue
        if block != 0x2C:
            raise ValueError(f"GIF: unknown block 0x{block:02x}")

        # ---- first image descriptor: decode and return
        left, top, w, h, ipacked = struct.unpack_from("<HHHHB", data, pos)
        pos += 9
        ct = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            ct = np.frombuffer(data, np.uint8, 3 * n, pos).reshape(n, 3)
            pos += 3 * n
        if ct is None:
            raise ValueError("GIF: no color table")
        min_code_size = data[pos]
        pos += 1
        stream, pos = _read_subblocks(data, pos)
        idx = _lzw_decode(min_code_size, stream, w * h)
        if len(idx) < w * h:
            raise ValueError("GIF: pixel data short")
        frame = np.frombuffer(bytes(idx[: w * h]), np.uint8).reshape(h, w)
        if ipacked & 0x40:  # interlaced: reorder rows by the 4 passes
            seq = np.empty_like(frame)
            src = 0
            for start, step in _INTERLACE_PASSES:
                for row in range(start, h, step):
                    seq[row] = frame[src]
                    src += 1
            frame = seq

        channels = 4 if transparent is not None else 3
        canvas = np.zeros((sh, sw, channels), np.uint8)
        if gct is not None and bg_index < len(gct):
            canvas[:, :, :3] = gct[bg_index]
            if channels == 4:
                canvas[:, :, 3] = 255
        if top >= sh or left >= sw:
            raise ValueError("GIF: frame outside logical screen")
        fi = np.clip(frame, 0, len(ct) - 1)
        rgb = ct[fi]
        y0, y1 = top, min(top + h, sh)
        x0, x1 = left, min(left + w, sw)
        canvas[y0:y1, x0:x1, :3] = rgb[: y1 - y0, : x1 - x0]
        if channels == 4:
            alpha = np.where(frame == transparent, 0, 255).astype(np.uint8)
            canvas[y0:y1, x0:x1, 3] = alpha[: y1 - y0, : x1 - x0]
        return canvas
    raise ValueError("GIF: no image block")


def _lzw_encode(min_code_size: int, indices: bytes) -> bytes:
    clear = 1 << min_code_size
    end = clear + 1
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

    table = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    width = min_code_size + 1
    emit(clear, width)
    run = b""
    for b in indices:
        cand = run + bytes([b])
        if cand in table:
            run = cand
            continue
        emit(table[run], width)
        if next_code < 4096:
            table[cand] = next_code
            if next_code == (1 << width) and width < 12:
                width += 1
            next_code += 1
        else:  # table full: reset (exercises the decoder's CLEAR path)
            emit(clear, width)
            table = {bytes([i]): i for i in range(clear)}
            next_code = end + 1
            width = min_code_size + 1
        run = bytes([b])
    if run:
        emit(table[run], width)
    emit(end, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def encode_gif(
    indices: np.ndarray, palette: np.ndarray, transparent: int | None = None
) -> bytes:
    """uint8 (H, W) palette-index array + (N, 3) uint8 palette →
    single-frame GIF89a bytes. N is padded to the next power of two
    (min 2, max 256)."""
    h, w = indices.shape
    n = len(palette)
    if n > 256:
        raise ValueError("GIF: palette > 256 entries")
    size_pow = 1
    while (2 << size_pow) < n:
        size_pow += 1
    n_padded = 2 << size_pow
    pal = np.zeros((n_padded, 3), np.uint8)
    pal[:n] = palette
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (size_pow << 4) | size_pow, 0, 0)
    out += pal.tobytes()
    if transparent is not None:
        out += bytes([0x21, 0xF9, 4, 0x01, 0, 0, transparent, 0])
    out += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0)
    min_code_size = max(2, size_pow + 1)
    out.append(min_code_size)
    stream = _lzw_encode(min_code_size, indices.astype(np.uint8).tobytes())
    for i in range(0, len(stream), 255):
        chunk = stream[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out += bytes([0, 0x3B])
    return bytes(out)
