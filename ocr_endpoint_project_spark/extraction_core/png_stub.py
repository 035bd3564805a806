"""Scan images (PNG and JPEG): glyph-raster encode, decode and OCR.

The reference OCRs scanned pages via a remote API, one image per page
(``ocr_common.py:431-468``). Here the pixel->text step is a local,
deterministic template-match OCR (``png_glyphs.py``) over a real decoded
raster: signature/chunk/CRC walk, IHDR validation, IDAT inflate and
scanline unfiltering (``png_pixels.py``), or baseline DCT decode
(``jpeg_pixels.py``). A deployment with an OCR model swaps
:func:`png_glyphs.ocr_pages` for a model call over the same decoded
array. Each page is one marker row carrying its pixel-row count,
followed by the rendered glyph grid.
"""

from __future__ import annotations

import struct

import numpy as np

from .jpeg_pixels import JPEG_MAGIC, decode_jpeg_gray, encode_jpeg_gray
from .page_join import join_parts, page_parts
from .png_pixels import PNG_MAGIC, decode_png_gray, encode_png_bilevel


def glyph_scan_pixels(page_texts: list[str]):
    """Page texts -> one stacked 0/1 glyph-raster grid (marker row per
    page, then its rendered glyph rows) — the shared scan-image layout
    behind both the PNG and the JPEG scan containers."""
    # png_glyphs builds its font at import (~10 ms, ~2 MB): imported here
    # and in _raster_pages so workers that never touch a scan skip it
    from .png_glyphs import render_text

    # marker rows need 4 sync bits + 32 length bits + all-ink tail
    cols = max(
        [7] + [len(line) for t in page_texts for line in t.split("\n")]
    )
    rows: list = []
    for t in page_texts:
        g = (render_text(t, cols=cols) > 127).astype(np.uint8)
        marker = np.ones(g.shape[1], dtype=np.uint8)
        marker[1] = marker[3] = 0  # sync pattern 1,0,1,0
        nbits = np.unpackbits(np.frombuffer(struct.pack(">I", g.shape[0]), dtype=np.uint8))
        marker[4:36] = nbits
        rows.append(marker[None, :])
        rows.append(g)
    if not rows:
        rows.append(np.zeros((1, 6 * cols), dtype=np.uint8))
    return np.vstack(rows)


def make_png_glyph_scan(page_texts: list[str]) -> bytes:
    """Build a scan PNG whose pages are GLYPH RASTERS (png_glyphs font):
    extraction must actually RECOGNIZE the text (template-match OCR),
    not read it back from a byte channel. Each page = one marker row
    carrying its pixel-row count, then the rendered glyph grid. All
    pages share one width (the longest line across pages), so no line
    ever wraps and the OCR round-trip is byte-exact."""
    # 1-bit grayscale: ink/paper needs one bit per pixel — 8x smaller
    # scan payloads, and the codec's depth-1 path is exercised for real
    return encode_png_bilevel(glyph_scan_pixels(page_texts))


def make_jpeg_glyph_scan(page_texts: list[str]) -> bytes:
    """Build a scan JPEG (baseline DCT, ``jpeg_pixels``) of the same
    glyph-raster layout as :func:`make_png_glyph_scan` — the corpus'
    ``jpg``/``jpeg`` leg (reference upload whitelist,
    ``cv_api/main.py:38-40``). The codec is genuinely lossy; the
    ``Q_SCAN`` error bound guarantees the raster re-binarizes exactly,
    so recognition still round-trips byte-identically."""
    return encode_jpeg_gray(glyph_scan_pixels(page_texts) * 255)


def extract_jpeg_text(payload: bytes) -> tuple[str, list[tuple[int, int, str]], int]:
    """Extract ``(text, spans, n_pages)`` from a scan JPEG: baseline
    decode to the luma raster, re-binarize at 127 (the ``Q_SCAN`` bound
    makes this exact for bilevel sources), then the same marker-row walk
    + glyph OCR as the PNG scan path."""
    if not payload.startswith(JPEG_MAGIC):
        raise ValueError("not a JPEG payload")
    px = decode_jpeg_gray(payload)
    bilevel = np.where(px > 127, np.uint8(255), np.uint8(0))
    pages = _raster_pages(bilevel)
    text, spans = join_parts(page_parts(pages))
    return text, spans, len(pages)


def _raster_pages(pixels) -> list[str]:
    """Walk a decoded scan raster: each marker row heads one glyph page,
    and all pages are recognized by template-match OCR. Marker rows can
    never occur inside page bodies: glyph rows always contain zero
    spacing columns, so they never match the marker's all-ink tail."""
    from .png_glyphs import ocr_pages

    h, width = pixels.shape
    if width < 37:
        return []
    # vectorized marker detection: one pass over the whole raster instead
    # of per-row numpy comparisons. Marker (bilevel raster, values 0/255):
    # sync 1,0,1,0 then 32 length bits then an all-ink tail.
    is_marker = (
        (pixels[:, 0] == 255)
        & (pixels[:, 1] == 0)
        & (pixels[:, 2] == 255)
        & (pixels[:, 3] == 0)
        & (pixels[:, 36:] == 255).all(axis=1)
    )
    # pages are recognized in ONE batched match (ocr_pages) — per-page
    # calls paid ~70 us of fixed numpy overhead each, dominating
    # multi-page scan docs (round-5 profile)
    grids: list = []
    r = 0
    while r < h:
        if is_marker[r]:
            bits = (pixels[r, 4:36] > 127).astype(np.uint8)
            (n_rows,) = struct.unpack(">I", np.packbits(bits).tobytes())
            grids.append(pixels[r + 1 : r + 1 + n_rows])
            r += 1 + n_rows
        else:
            r += 1
    return ocr_pages(grids) if grids else []


def extract_png_text(payload: bytes) -> tuple[str, list[tuple[int, int, str]], int]:
    """Extract ``(text, spans, n_pages)`` from a scan PNG: decode the
    raster, OCR its glyph pages, then apply the shared page-join
    contract (``"\\n\\n"`` join + strip, ``ocr_common.py:341-344``).

    A PNG the raster codec rejects (no IHDR/IDAT, unsupported colour
    type or depth) yields no pages, so the document becomes an empty-text
    ``OCR_PROVIDER_ERROR`` row."""
    if not payload.startswith(PNG_MAGIC):
        raise ValueError("not a PNG payload")
    try:
        pages = _raster_pages(decode_png_gray(payload))
    except ValueError:
        pages = []
    text, spans = join_parts(page_parts(pages))
    return text, spans, len(pages)
