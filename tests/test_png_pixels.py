"""The real PNG raster codec: scanline filters (all five types, both
directions), whole-image roundtrip, glyph OCR, and the now-real
grayscale resize."""

from __future__ import annotations

import struct
import zlib

import numpy as np

from ocr_endpoint_project_spark.extraction_core.png_pixels import (
    PNG_MAGIC,
    _chunk,
    decode_png_gray,
    encode_png_gray,
    filter_row,
    resize_gray,
    unfilter_row,
)


def test_filters_roundtrip_all_types():
    rng = np.random.RandomState(7)
    prev = rng.randint(0, 256, 64).astype(np.uint8)
    row = rng.randint(0, 256, 64).astype(np.uint8)
    for ftype in range(5):
        filtered = filter_row(row, prev, ftype)
        back = unfilter_row(filtered, prev, ftype)
        assert (back == row).all(), f"filter {ftype} did not invert"


def test_decode_handles_average_and_paeth_streams():
    """A PNG whose rows use filters 3 and 4 (never emitted by our
    encoder) must still decode — the decoder is general."""
    rng = np.random.RandomState(3)
    pixels = rng.randint(0, 256, (6, 40)).astype(np.uint8)
    raw = bytearray()
    prev = np.zeros(40, dtype=np.uint8)
    for r in range(6):
        ftype = 3 if r % 2 == 0 else 4
        raw.append(ftype)
        raw += filter_row(pixels[r], prev, ftype).tobytes()
        prev = pixels[r]
    ihdr = struct.pack(">IIBBBBB", 40, 6, 8, 0, 0, 0, 0)
    payload = (
        PNG_MAGIC + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw))) + _chunk(b"IEND", b"")
    )
    assert (decode_png_gray(payload) == pixels).all()


def test_encode_decode_roundtrip():
    rng = np.random.RandomState(11)
    pixels = rng.randint(0, 256, (9, 33)).astype(np.uint8)
    assert (decode_png_gray(encode_png_gray(pixels)) == pixels).all()


def test_resize_image_real_pixels():
    from ocr_endpoint_project_spark.operators.multimodal import resize_image

    pixels = np.arange(64, dtype=np.uint8).reshape(8, 8)
    out = resize_image(encode_png_gray(pixels), 4, 4)
    small = decode_png_gray(out)
    assert small.shape == (4, 4)
    assert (small == resize_gray(pixels, 4, 4)).all()
    # nearest-neighbor at 2:1 keeps every other pixel exactly
    assert (small == pixels[::2, ::2]).all()


def test_glyph_ocr_corrects_noise_up_to_half_font_distance():
    """Template-match OCR: the font's min pairwise Hamming distance is
    asserted, and decoding survives per-glyph noise strictly below half
    of it — recognition, not deserialization."""
    from ocr_endpoint_project_spark.extraction_core.png_glyphs import (
        CELL_W,
        FONT_MIN_DISTANCE,
        GLYPH_H,
        GLYPH_W,
        ocr_glyph_png,
        ocr_text,
        render_glyph_png,
        render_text,
    )

    assert FONT_MIN_DISTANCE >= 7  # corrects >= 3 flipped pixels
    text = "The quick brown fox; 0123456789 (jumps) over!"
    assert ocr_glyph_png(render_glyph_png(text)) == text  # clean roundtrip

    budget = (FONT_MIN_DISTANCE - 1) // 2
    arr = render_text(text).copy()
    rng = np.random.RandomState(42)
    for c in range(len(text)):
        flips = set()
        while len(flips) < budget:  # distinct pixels: k flips = Hamming k
            flips.add((rng.randint(0, GLYPH_H), rng.randint(0, GLYPH_W)))
        for y, x in flips:
            arr[y, c * CELL_W + x] = 255 - arr[y, c * CELL_W + x]
    assert ocr_text(arr) == text


def test_glyph_ocr_multiline_and_wrap():
    from ocr_endpoint_project_spark.extraction_core.png_glyphs import (
        ocr_text,
        render_text,
    )

    text = "first line\nsecond somewhat longer line that wraps"
    assert ocr_text(render_text(text, cols=20)) == (
        "first line\nsecond somewhat long\ner line that wraps"
    )


def test_glyph_ocr_arabic_and_latin1_roundtrip():
    """Round 5: the md5-derived font covers Latin-1 + Arabic, so ALL
    corpus languages (en/fr/ar) go through real template-match OCR —
    clean roundtrip AND noise correction for non-ASCII glyphs."""
    from ocr_endpoint_project_spark.extraction_core.png_glyphs import (
        CELL_W,
        CHARSET,
        FONT_MIN_DISTANCE,
        GLYPH_H,
        GLYPH_W,
        ocr_glyph_png,
        ocr_text,
        render_glyph_png,
        render_text,
    )

    assert len(CHARSET) == 242 and FONT_MIN_DISTANCE >= 7
    # logical-order RTL Arabic + accented French, mixed with ASCII
    text = "بيانات نظام محتوى\ndonnée qualité système\nplain ascii line"
    assert ocr_glyph_png(render_glyph_png(text)) == text

    budget = (FONT_MIN_DISTANCE - 1) // 2
    line = "صفحة estrategia données"
    arr = render_text(line).copy()
    rng = np.random.RandomState(7)
    for c in range(len(line)):
        flips = set()
        while len(flips) < budget:
            flips.add((rng.randint(0, GLYPH_H), rng.randint(0, GLYPH_W)))
        for y, x in flips:
            arr[y, c * CELL_W + x] = 255 - arr[y, c * CELL_W + x]
    assert ocr_text(arr) == line


def test_corpus_scan_pages_always_glyph_rasters():
    """render_png no longer falls back to the framed-byte channel: every
    scan page — including Arabic — is a glyph raster the extractor must
    RECOGNIZE (corpus.py round-5 contract)."""
    import zlib

    from ocr_endpoint_project_spark.extraction_core.png_pixels import decode_png_gray
    from ocr_endpoint_project_spark.sources.corpus import generate_corpus

    rows = [r for r in generate_corpus(400, seed=11) if r.extension == "png"]
    langs = {r.lang for r in rows}
    assert "ar" in langs, "corpus draw must include Arabic scan pages"
    for r in rows:
        px = decode_png_gray(r.html)
        # glyph rasters are bilevel 0/255 grids with NO 0xFE frame markers
        vals = set(px.reshape(-1).tolist())
        assert vals <= {0, 255} and 0xFE not in vals
