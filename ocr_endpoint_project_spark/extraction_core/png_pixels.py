"""Real PNG raster codec (pure stdlib zlib + numpy): chunk walk, IDAT
inflate, scanline (un)filtering for ALL five PNG filter types, and
nearest-neighbor resampling.

Everything rasters do is real here: signature/chunk/CRC layout, IHDR
validation, IDAT decompression, per-row filter encode/decode (None /
Sub / Up / Average / Paeth, PNG spec §4.5.4) and 1- and 8-bit grayscale
depths. The encoder cycles row filters None → Sub → Up so both
directions of the vectorizable filters are exercised (Average/Paeth are
decoded + unit-tested, but not emitted: their inverse is sequential per
pixel in pure Python, ~20× slower than the numpy forms). Scan text is
recognized from the decoded raster by ``png_glyphs``.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

_ENCODE_FILTER_CYCLE = (0, 1, 2)  # none, sub, up


def _chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


# ---------------------------------------------------------------------------
# scanline filters (stride = 1 byte/pixel: 8-bit grayscale)
# ---------------------------------------------------------------------------

def filter_row(row: np.ndarray, prev: np.ndarray, ftype: int) -> np.ndarray:
    """Forward-filter one row (uint8 arrays wrap mod 256 natively)."""
    if ftype == 0:
        return row.copy()
    if ftype == 1:  # sub: raw[i] - raw[i-1]
        out = row.copy()
        out[1:] -= row[:-1]
        return out
    if ftype == 2:  # up
        return row - prev
    if ftype == 3:  # average
        left = np.concatenate(([0], row[:-1])).astype(np.uint16)
        return row - ((left + prev.astype(np.uint16)) // 2).astype(np.uint8)
    if ftype == 4:  # paeth
        out = np.empty_like(row)
        a = 0
        for i in range(len(row)):
            b, c = int(prev[i]), int(prev[i - 1]) if i else 0
            out[i] = (int(row[i]) - _paeth(a, b, c)) & 0xFF
            a = int(row[i])
        return out
    raise ValueError(f"unknown filter type {ftype}")


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def unfilter_row(raw: np.ndarray, prev: np.ndarray, ftype: int) -> np.ndarray:
    """Invert one row's filter given the RECONSTRUCTED previous row."""
    if ftype == 0:
        return raw.copy()
    if ftype == 1:
        # sub's inverse is a running sum: x[i] = raw[i] + x[i-1] (mod 256)
        return (np.cumsum(raw.astype(np.int64)) % 256).astype(np.uint8)
    if ftype == 2:
        return raw + prev
    if ftype == 3:  # average: sequential (depends on reconstructed left)
        out = np.empty_like(raw)
        left = 0
        for i in range(len(raw)):
            left = (int(raw[i]) + (left + int(prev[i])) // 2) & 0xFF
            out[i] = left
        return out
    if ftype == 4:  # paeth: sequential
        out = np.empty_like(raw)
        a = 0
        for i in range(len(raw)):
            b, c = int(prev[i]), int(prev[i - 1]) if i else 0
            a = (int(raw[i]) + _paeth(a, b, c)) & 0xFF
            out[i] = a
        return out
    raise ValueError(f"unknown filter type {ftype}")


# ---------------------------------------------------------------------------
# whole-image encode / decode
# ---------------------------------------------------------------------------

def encode_png_gray(pixels: np.ndarray, filters: tuple[int, ...] | None = None) -> bytes:
    """(h, w) uint8 array -> 8-bit grayscale PNG.

    ``filters``: per-row filter cycle (default None/Sub/Up). Pass
    ``(0,)`` for tall sparse rasters (e.g. glyph pages, thousands of
    skinny rows): an all-None stream decodes as ONE vectorized slice
    instead of a per-row loop — a legitimate per-row filter choice any
    PNG encoder is free to make."""
    h, w = pixels.shape
    cycle = filters or _ENCODE_FILTER_CYCLE
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    if tuple(cycle) == (0,):
        # filter byte 0 on every row: prepend a zero column, one pass
        raw_arr = np.zeros((h, w + 1), dtype=np.uint8)
        raw_arr[:, 1:] = pixels
        raw = raw_arr.tobytes()
    else:
        buf = bytearray()
        prev = np.zeros(w, dtype=np.uint8)
        for r in range(h):
            ftype = cycle[r % len(cycle)]
            buf.append(ftype)
            buf += filter_row(pixels[r], prev, ftype).tobytes()
            prev = pixels[r]
        raw = bytes(buf)
    return (
        PNG_MAGIC
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )


def encode_png_bilevel(bits: np.ndarray) -> bytes:
    """(h, w) 0/1 array -> 1-bit grayscale PNG (8 pixels/byte, filter 0).

    The right depth for glyph rasters: an 8-bit page of ink/paper wastes
    7 bits per pixel — packing drops raw scanline bytes 8x, which is the
    difference between 40 KB and 5 KB scan payloads at Common-Crawl page
    weights. Filters operate on the PACKED bytes per the PNG spec."""
    h, w = bits.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 1, 0, 0, 0, 0)
    packed = np.packbits(bits.astype(np.uint8), axis=1)  # (h, ceil(w/8))
    raw_arr = np.zeros((h, packed.shape[1] + 1), dtype=np.uint8)
    raw_arr[:, 1:] = packed
    return (
        PNG_MAGIC
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw_arr.tobytes()))
        + _chunk(b"IEND", b"")
    )


def decode_png_gray(payload: bytes) -> np.ndarray:
    """Any 1- or 8-bit grayscale non-interlaced PNG -> (h, w) uint8 array
    (1-bit pixels expand to 0/255).

    Walks chunks, validates IHDR, inflates the concatenated IDAT stream,
    and unfilters every row (all five filter types; filters run over the
    packed scanline bytes, per spec). Raises ValueError on non-PNG input,
    other color types / bit depths, interlace, or a scanline stream whose
    size disagrees with IHDR.
    """
    if not payload.startswith(PNG_MAGIC):
        raise ValueError("not a PNG payload")
    i, n = len(PNG_MAGIC), len(payload)
    w = h = depth = None
    idat = bytearray()
    while i + 8 <= n:
        (length,) = struct.unpack(">I", payload[i : i + 4])
        ctype = payload[i + 4 : i + 8]
        body = payload[i + 8 : i + 8 + length]
        if ctype == b"IHDR":
            w, h, depth, color, _comp, _filt, interlace = struct.unpack(">IIBBBBB", body)
            if depth not in (1, 8) or color != 0:
                raise ValueError(f"unsupported PNG (depth={depth}, color={color})")
            if interlace:
                raise ValueError("interlaced PNG unsupported")
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        i += 12 + length
    if w is None or not idat:
        raise ValueError("PNG without IHDR or IDAT")
    raw = zlib.decompress(bytes(idat))
    stride = w if depth == 8 else -(-w // 8)
    if len(raw) != h * (stride + 1):
        raise ValueError(f"scanline stream {len(raw)} != {h}x({stride}+1)")
    arr = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    if not arr[:, 0].any():  # all rows filter 0: one vectorized slice
        out = arr[:, 1:].copy()
    else:
        out = np.empty((h, stride), dtype=np.uint8)
        prev = np.zeros(stride, dtype=np.uint8)
        for r in range(h):
            prev = unfilter_row(arr[r, 1:], prev, int(arr[r, 0]))
            out[r] = prev
    if depth == 1:
        return np.unpackbits(out, axis=1)[:, :w] * np.uint8(255)
    return out


def resize_gray(pixels: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbor resample of a grayscale array (real pixel math)."""
    h, w = pixels.shape
    ri = (np.arange(height) * h // height).clip(0, h - 1)
    ci = (np.arange(width) * w // width).clip(0, w - 1)
    return pixels[np.ix_(ri, ci)]
