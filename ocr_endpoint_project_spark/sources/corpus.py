"""Deterministic synthetic pages corpus (pure Python, no Spark imports).

Mirrors the reference's ground-truth-database coverage matrix
(``ground_truth_database/DATABASE.md:28-95``: formats x languages incl.
RTL Arabic x mono/multi-column layouts x failure rows) as a seeded
generator over the ``pages(url, warc_ts, html, text, lang)`` table shape
from BASELINE.json ``input_hint``.

The golden ``text`` column is derived from the CONTENT MODEL (the known
main-content blocks), never from the extractors — so byte-identity tests
(`extracted == golden` per url) are a real oracle, not a tautology.
~30% of urls share one host (``skewed-host.example``) so url-hash salting
is genuinely exercised, per SURVEY.md §7 risk 5.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

from ..extraction_core.pdf_write import layout_paragraphs, make_pdf, make_scanned_pdf
from ..extraction_core.png_stub import make_jpeg_glyph_scan, make_png_glyph_scan

# bump when generated payloads change shape/content — consumers that
# cache the corpus (sources/pages.cached_corpus_pages) key on this, so a
# stale cache can never masquerade as the current generator.
# v2 (round 5): all scan PNGs are glyph rasters (incl. Arabic/accented);
# 25% of PDFs are SCANNED (image-XObject raster pages through glyph OCR).
# v4 (round 6): a third of the scan leg renders as baseline JPEG
# (jpeg_pixels DCT codec) — the reference's jpg/jpeg upload path
# (cv_api/main.py:38-40) exercised through real lossy entropy decode;
# JPEG docs capped at 2 pages (scanned-letter shape — see render_jpeg).
# (v3 existed briefly with uncapped JPEG pages; never committed.)
# v5 (round 6): ~30% of Arabic paragraphs embed a 1-2 token Latin run
# (mixed-direction lines — the two-level bidi reading-order case).
# v6 (round 7): every other binary-noise failure row becomes a
# PROGRESSIVE (SOF2) JPEG stub — real crawls are full of progressive
# JPEGs, and the extraction taxonomy must route them to a distinct
# JPEG_PROGRESSIVE_UNSUPPORTED code (decode-need telemetry), not a
# generic decode error. Derived without touching the rng stream.
CORPUS_VERSION = 6

EN_WORDS = (
    "data system pipeline content page extract crawl table spark batch "
    "stream shuffle column layout anchor corpus token quality score merge "
    "window partition salted hash resume lineage checkpoint vector index"
).split()
FR_WORDS = (
    "donnée système contenu page texte colonne analyse corpus qualité "
    "flux tableau moteur extraction partition reprise indice vecteur"
).split()
AR_WORDS = (
    "بيانات نظام محتوى صفحة نص عمود تحليل جودة جدول محرك استخراج قسم فهرس متجه تدفق"
).split()

VOCAB = {"en": EN_WORDS, "fr": FR_WORDS, "ar": AR_WORDS}

# minimal progressive JPEG: SOI + SOF2 frame header. Sniffs as JPEG
# (magic FFD8FF), and the baseline decoder raises ProgressiveJpegError
# at the SOF2 marker — exactly what a progressive Common-Crawl image
# does to this pipeline.
import struct as _struct

PROGRESSIVE_JPEG_STUB = (
    b"\xff\xd8\xff\xc2" + _struct.pack(">H", 11)
    + b"\x08\x00\x10\x00\x10\x01\x01\x11\x00"
)

SKEWED_HOST = "skewed-host.example"
HOSTS = ("alpha.example", "beta.example", "gamma.example", "delta.example")

SECTION_HEADERS = {
    "en": ("OVERVIEW", "METHODS", "RESULTS", "DISCUSSION", "APPENDIX"),
    "fr": ("APERCU", "METHODES", "RESULTATS", "DISCUSSION", "ANNEXE"),
    "ar": ("OVERVIEW", "METHODS", "RESULTS", "DISCUSSION", "APPENDIX"),
}


@dataclass
class PageRow:
    url: str
    warc_ts: datetime
    html: bytes | None  # raw payload (html/pdf/png bytes), per input_hint
    text: str  # golden extracted text ("" => no-golden skip row)
    lang: str
    # catalog attributes (FIXTURES.md §2)
    extension: str
    layout_type: str
    is_rtl: int
    num_columns: int


def _sentence(rng: random.Random, words: list[str], n: int) -> str:
    ws = [rng.choice(words) for _ in range(n)]
    return (ws[0].capitalize() + " " + " ".join(ws[1:])).strip()


def _paragraph(rng: random.Random, words: list[str]) -> str:
    return " ".join(
        _sentence(rng, words, rng.randint(6, 12)) + "." for _ in range(rng.randint(2, 4))
    )


def _inject_latin_run(paragraph: str) -> str:
    """~30% of Arabic paragraphs gain an embedded 1-2 token Latin run
    (product names, acronyms — the mixed-direction lines the reference's
    Arabic CVs contain, DATABASE.md:74-80). Deterministic from the
    paragraph CONTENT (md5), not the generator rng, so the draw stream
    feeding every other document is untouched."""
    h = hashlib.md5(paragraph.encode("utf-8")).digest()
    if h[0] % 10 >= 3:
        return paragraph
    words = paragraph.split(" ")
    if len(words) < 4:
        return paragraph
    pos = 1 + h[1] % (len(words) - 2)
    toks = [EN_WORDS[h[2 + i] % len(EN_WORDS)] for i in range(1 + h[4] % 2)]
    return " ".join(words[:pos] + toks + words[pos:])


def _content_blocks(
    rng: random.Random, lang: str, richness: int = 1
) -> list[tuple[str, str]]:
    """The content model: (kind, text) blocks that ARE the main content.

    ``richness`` scales paragraphs-per-section (1 = short test docs,
    8 ~= realistic Common-Crawl page weight of tens of KB).
    """
    words = VOCAB[lang]
    blocks: list[tuple[str, str]] = [
        ("heading", _sentence(rng, words, rng.randint(3, 6)))
    ]
    for header in rng.sample(SECTION_HEADERS[lang], rng.randint(2, 4)):
        blocks.append(("heading", header))
        for _ in range(rng.randint(1, 3) * richness):
            para = _paragraph(rng, words)
            if lang == "ar":
                para = _inject_latin_run(para)
            blocks.append(("paragraph", para))
    return blocks


def _resume_blocks(rng: random.Random) -> list[tuple[str, str]]:
    """Resume-grammar content (exercises the sections segmenter, E9)."""
    words = EN_WORDS
    first = rng.choice(words).capitalize()
    last = rng.choice(words).capitalize()
    blocks = [
        ("paragraph", f"NAME: {first} {last}"),
        ("paragraph", f"LOCATION: {rng.choice(HOSTS).split('.')[0].capitalize()} City"),
        ("heading", "ABOUT"),
        ("paragraph", _paragraph(rng, words)),
        ("heading", "EXPERIENCE"),
    ]
    for _ in range(rng.randint(1, 3)):
        blocks.append(
            (
                "paragraph",
                f"- {_sentence(rng, words, 2)} | {_sentence(rng, words, 2)} Corp | "
                f"20{rng.randint(10, 19)} | 20{rng.randint(20, 25)}",
            )
        )
    blocks.append(("heading", "SKILLS"))
    blocks.append(
        (
            "paragraph",
            f"- Engineering: {rng.choice(words)}, {rng.choice(words)}, {rng.choice(words)}",
        )
    )
    blocks.append(("heading", "INTERESTS"))
    blocks.append(("paragraph", f"- {_sentence(rng, words, 3)}"))
    return blocks


# ---------------------------------------------------------------------------
# payload renderers (content model -> bytes) + golden-text derivations
# ---------------------------------------------------------------------------

_NAV = (
    "<nav><ul><li><a href='/'>Home</a></li><li><a href='/a'>Archive</a></li>"
    "<li><a href='/c'>Contact</a></li></ul></nav>"
)
_FOOTER = "<footer><p>Copyright 2024 Example Corp. All rights reserved forever.</p></footer>"
_ASIDE = "<aside><p>Trending: everything you must click today, ranked hourly.</p></aside>"


def render_html(rng: random.Random, blocks: list[tuple[str, str]]) -> bytes:
    """Wrap content blocks in boilerplate the extractor must strip.

    Includes both subtree-dropped chrome (nav/footer/aside/script) and
    blocks that must fail SCORING: link-dense paragraphs and short
    fragments outside any dropped subtree.
    """
    parts = [
        "<!DOCTYPE html><html><head><title>t</title>",
        "<script>var x = 1;</script><style>p{color:red}</style></head><body>",
        _NAV,
        "<header><h1><a href='/'>Site Banner Headline</a></h1></header>",
        "<main><article>",
    ]
    for kind, text in blocks:
        if kind == "heading":
            tag = rng.choice(("h1", "h2", "h3"))
            parts.append(f"<{tag}>{text}</{tag}>")
        else:
            parts.append(f"<p>{text}</p>")
        if rng.random() < 0.25:  # interleaved boilerplate that must be scored out
            parts.append(
                "<p><a href='/share'>Share this amazing article</a> "
                "<a href='/sub'>Subscribe to newsletter now</a></p>"
            )
        if rng.random() < 0.2:
            parts.append("<div>Ad slot 300x250</div>")
    parts += [
        "</article></main>",
        "<div><ul>"
        + "".join(
            f"<li><a href='/r{i}'>Related story number {i} you may like</a></li>"
            for i in range(4)
        )
        + "</ul></div>",
        _ASIDE,
        _FOOTER,
        "</body></html>",
    ]
    return "".join(parts).encode("utf-8")


def golden_from_blocks(blocks: list[tuple[str, str]]) -> str:
    """HTML golden: kept blocks joined with '\\n\\n' (extractor contract)."""
    return "\n\n".join(t for _, t in blocks).strip()


def _wrap_words(text: str, per_line: int = 9) -> list[str]:
    words = text.split(" ")
    return [
        " ".join(words[i : i + per_line]) for i in range(0, len(words), per_line)
    ] or [""]


def blocks_to_pdf_paragraphs(blocks: list[tuple[str, str]]) -> list[list[str]]:
    """Content blocks -> PDF paragraphs (lists of wrapped lines)."""
    return [
        [text] if kind == "heading" else _wrap_words(text) for kind, text in blocks
    ]


def golden_from_paragraphs(paragraphs: list[list[str]]) -> str:
    """PDF/PNG golden: lines joined '\\n', paragraphs joined '\\n\\n'."""
    return "\n\n".join("\n".join(lines) for lines in paragraphs).strip()


def render_pdf(blocks: list[tuple[str, str]], columns: int, rtl: bool) -> tuple[bytes, str]:
    paragraphs = blocks_to_pdf_paragraphs(blocks)
    pages = layout_paragraphs(paragraphs, columns=columns, rtl=rtl)
    return make_pdf(pages, compress=True), golden_from_paragraphs(paragraphs)


def render_png(blocks: list[tuple[str, str]]) -> tuple[bytes, str]:
    """Scan pages ALWAYS render as GLYPH RASTERS — extraction runs real
    template-match OCR over them (extraction_core/png_glyphs.py). Since
    round 5 the font covers ASCII + Latin-1 + Arabic, so every corpus
    language (en/fr/ar) goes through recognition."""
    paragraphs = blocks_to_pdf_paragraphs(blocks)
    page_texts = ["\n".join(lines) for lines in paragraphs]
    golden = "\n\n".join(page_texts).strip()
    return make_png_glyph_scan(page_texts), golden


def render_jpeg(blocks: list[tuple[str, str]], max_pages: int = 2) -> tuple[bytes, str]:
    """Scan pages as a baseline JPEG of the same glyph-raster layout as
    :func:`render_png` — lossy DCT carriage whose ``Q_SCAN`` error bound
    guarantees exact re-binarization, so the OCR byte-identity oracle
    holds through a genuinely lossy codec.

    JPEG docs are deliberately SHORT (``max_pages``, scanned-letter
    shape): the md5-derived glyph rasters are noise-like, so their
    entropy streams are dense (~1 nonzero AC coefficient per ink pixel),
    and the stdlib Huffman decoder pays ~0.5 us/coefficient — a
    multi-page raster would cost ~0.5 s/doc, which benchmarks the
    sandbox's lack of libjpeg-turbo rather than the pipeline. Golden
    text covers exactly the rendered pages."""
    paragraphs = blocks_to_pdf_paragraphs(blocks)[:max_pages]
    page_texts = ["\n".join(lines) for lines in paragraphs]
    golden = "\n\n".join(page_texts).strip()
    return make_jpeg_glyph_scan(page_texts), golden


# ---------------------------------------------------------------------------
# corpus generator
# ---------------------------------------------------------------------------

_EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)


def generate_corpus(
    n: int = 100, seed: int = 42, include_failures: bool = True, richness: int = 1
) -> list[PageRow]:
    """Generate ``n`` deterministic page rows covering the matrix."""
    rng = random.Random(seed)
    rows: list[PageRow] = []
    for i in range(n):
        # ~30% of urls on one host => host-level skew for salting tests
        host = SKEWED_HOST if rng.random() < 0.3 else rng.choice(HOSTS)
        url = f"https://{host}/doc/{i:06d}"
        ts = _EPOCH + timedelta(seconds=i)
        lang = rng.choice(("en", "en", "en", "fr", "ar"))
        roll = rng.random()

        if include_failures and i % 29 == 7:
            # failure rows: empty payload / unknown bytes / golden-less row
            sub = i % 3
            if sub == 0:
                rows.append(PageRow(url, ts, b"", "", lang, "bin", "mono", 0, 1))
            elif sub == 1:
                # alternate noise / progressive-JPEG failure payloads
                # ((i//29) parity — rng stream untouched, corpus v6)
                payload = (
                    PROGRESSIVE_JPEG_STUB
                    if (i // 29) % 2 == 1
                    else b"\x00\x01binary-noise\x02"
                )
                ext = "jpg" if payload is PROGRESSIVE_JPEG_STUB else "bin"
                rows.append(PageRow(url, ts, payload, "", lang, ext, "mono", 0, 1))
            else:  # html payload but golden text missing -> skip-with-reason path
                blocks = _content_blocks(rng, lang, richness)
                rows.append(
                    PageRow(url, ts, render_html(rng, blocks), "", lang, "html", "mono", 0, 1)
                )
            continue

        if i % 17 == 3:
            # resume-grammar docs go through line-preserving formats (pdf)
            # so the sections segmenter sees its grammar intact
            blocks = _resume_blocks(rng)
            payload, golden = render_pdf(blocks, columns=1, rtl=False)
            rows.append(PageRow(url, ts, payload, golden, "en", "pdf", "mono", 0, 1))
            continue

        blocks = _content_blocks(rng, lang, richness)
        if roll < 0.60:
            payload = render_html(rng, blocks)
            golden = golden_from_blocks(blocks)
            rows.append(PageRow(url, ts, payload, golden, lang, "html", "mono", 0, 1))
        elif roll < 0.85:
            rtl = lang == "ar"
            if rng.random() < 0.25:
                # SCANNED pdf (reference DATABASE.md scan rows): raster
                # pages only — extraction must OCR the embedded bitmaps
                paragraphs = blocks_to_pdf_paragraphs(blocks)
                page_texts = [
                    "\n\n".join("\n".join(ls) for ls in paragraphs[i : i + 3])
                    for i in range(0, len(paragraphs), 3)
                ]
                rows.append(
                    PageRow(
                        url, ts, make_scanned_pdf(page_texts),
                        golden_from_paragraphs(paragraphs), lang, "pdf",
                        "scan", int(rtl), 1,
                    )
                )
                continue
            columns = 2 if rng.random() < 0.4 else 1
            payload, golden = render_pdf(blocks, columns=columns, rtl=rtl)
            rows.append(
                PageRow(
                    url, ts, payload, golden, lang, "pdf",
                    "multi" if columns == 2 else "mono", int(rtl), columns,
                )
            )
        else:
            if rng.random() < 1 / 3:
                # JPEG scan (reference accepts jpg/jpeg uploads,
                # cv_api/main.py:38-40): same glyph-raster layout, but
                # carried by the lossy baseline-DCT codec — extraction
                # pays a real Huffman+IDCT decode before OCR
                payload, golden = render_jpeg(blocks)
                rows.append(PageRow(url, ts, payload, golden, lang, "jpg", "scan", 0, 1))
            else:
                payload, golden = render_png(blocks)
                rows.append(PageRow(url, ts, payload, golden, lang, "png", "scan", 0, 1))
    return rows
