"""Unit tests for the pure-Python extraction core (no Spark).

The headline test: byte-identical extracted text per url over the full
synthetic corpus, where golden text is derived from the content model —
independent of the extractors (SURVEY.md §5, BASELINE.json per-row
invariant).
"""

from __future__ import annotations

import struct
import zlib

import pytest

from ocr_endpoint_project_spark.extraction_core import (
    extract_document,
    extract_html,
    extract_pdf,
    extract_png_text,
    sniff_doc_kind,
)
from ocr_endpoint_project_spark.extraction_core.document import (
    ERR_FILE_TOO_LARGE,
    ERR_INVALID_FILE_TYPE,
    ERR_OCR_PROVIDER,
    STATUS_FAILED,
    STATUS_OK,
)
from ocr_endpoint_project_spark.extraction_core.pdf_write import (
    TextSpan,
    layout_paragraphs,
    make_pdf,
)
from ocr_endpoint_project_spark.extraction_core.png_pixels import PNG_MAGIC, _chunk
from ocr_endpoint_project_spark.extraction_core.png_stub import make_png_glyph_scan
from ocr_endpoint_project_spark.sources.corpus import generate_corpus


# ---------------------------------------------------------------------------
# sniffing
# ---------------------------------------------------------------------------
def test_sniff_kinds():
    assert sniff_doc_kind(b"%PDF-1.4 junk") == "pdf"
    assert sniff_doc_kind(b"\x89PNG\r\n\x1a\nrest") == "image"
    assert sniff_doc_kind(b"<!DOCTYPE html><html></html>") == "html"
    assert sniff_doc_kind(b"  <div>x</div>") == "html"
    assert sniff_doc_kind(b"") == "empty"
    assert sniff_doc_kind(None) == "empty"
    assert sniff_doc_kind(b"\x00\x01\x02") == "unknown"


# ---------------------------------------------------------------------------
# HTML extraction
# ---------------------------------------------------------------------------
def test_html_basic_boilerplate_strip():
    html = (
        b"<html><head><title>T</title><script>x</script></head><body>"
        b"<nav><ul><li><a href='/'>Home</a></li></ul></nav>"
        b"<h1>A Real Headline Here</h1>"
        b"<p>This paragraph is long enough to be kept as main content.</p>"
        b"<p><a href='/x'>Subscribe now to our newsletter</a></p>"
        b"<div>short</div>"
        b"<footer><p>Copyright statement long enough to be a block.</p></footer>"
        b"</body></html>"
    )
    text, spans, _links = extract_html(html)
    assert text == (
        "A Real Headline Here\n\n"
        "This paragraph is long enough to be kept as main content."
    )
    assert [k for _, _, k in spans] == ["heading", "paragraph"]
    start, end, _ = spans[1]
    assert text[start:end].startswith("This paragraph")


def test_html_whitespace_collapse_and_entities():
    html = b"<p>Alpha   beta\n\tgamma &amp; delta makes this long enough.</p>"
    text, _, _links = extract_html(html)
    assert text == "Alpha beta gamma & delta makes this long enough."


def test_html_link_density_threshold():
    # exactly half the collapsed text inside <a> -> density 0.5 > 0.35 -> dropped
    linky = b"<p><a href='/'>aaaaaaaaaaaaaaaaaaaa</a>bbbbbbbbbbbbbbbbbbbb</p>"
    text, _, _links = extract_html(linky)
    assert text == ""
    # light link inside long paragraph is fine
    ok = b"<p>A sufficiently long paragraph where only <a href='/'>tiny</a> is linked text.</p>"
    text2, _, _links = extract_html(ok)
    assert "sufficiently long paragraph" in text2


# ---------------------------------------------------------------------------
# PDF extraction
# ---------------------------------------------------------------------------
def test_pdf_roundtrip_single_column():
    paragraphs = [
        ["Heading One"],
        ["first line of paragraph", "second line of paragraph"],
        ["another paragraph entirely"],
    ]
    pdf = make_pdf(layout_paragraphs(paragraphs), compress=True)
    text, spans, n_pages = extract_pdf(pdf)
    assert n_pages == 1
    assert text == (
        "Heading One\n\nfirst line of paragraph\nsecond line of paragraph"
        "\n\nanother paragraph entirely"
    )
    assert spans and spans[0][2] == "page_1"


def test_pdf_roundtrip_uncompressed_and_tj_array():
    # hand-built content: Td positioning, literal strings, TJ array
    spans = [TextSpan(50, 700, "hello wide world"), TextSpan(50, 686, "second line")]
    pdf = make_pdf([spans], compress=False)
    text, _, _ = extract_pdf(pdf)
    assert text == "hello wide world\nsecond line"


def test_pdf_two_columns_reading_order():
    # enough paragraphs to overflow into the second column
    paragraphs = [[f"col paragraph number {i} line a", f"col paragraph number {i} line b"] for i in range(14)]
    pdf = make_pdf(layout_paragraphs(paragraphs, columns=2), compress=True)
    text, _, n_pages = extract_pdf(pdf)
    expected = "\n\n".join("\n".join(p) for p in paragraphs)
    assert text == expected


def test_pdf_rtl_reading_order():
    paragraphs = [["بيانات نظام محتوى صفحة نص عمود تحليل جودة"]]
    pdf = make_pdf(layout_paragraphs(paragraphs, rtl=True), compress=True)
    text, _, _ = extract_pdf(pdf)
    assert text == paragraphs[0][0]


def test_pdf_multipage_join():
    # force > 1 page: a single column fits ~  (740-60)/14 ≈ 48 lines
    paragraphs = [[f"line {i} of a very long paragraph chain"] for i in range(60)]
    pdf = make_pdf(layout_paragraphs(paragraphs), compress=True)
    text, spans, n_pages = extract_pdf(pdf)
    assert n_pages >= 2
    assert text == "\n\n".join(p[0] for p in paragraphs)
    assert {s[2] for s in spans} == {f"page_{i+1}" for i in range(n_pages)}


# ---------------------------------------------------------------------------
# scan PNG
# ---------------------------------------------------------------------------
def test_png_stub_roundtrip():
    png = make_png_glyph_scan(["page one text\nwith a line", "page two text"])
    text, spans, n_pages = extract_png_text(png)
    assert n_pages == 2
    assert text == "page one text\nwith a line\n\npage two text"
    assert spans == [(0, 25, "page_1"), (27, 40, "page_2")]


def _png(ihdr: bytes, *chunks: tuple[bytes, bytes]) -> bytes:
    body = b"".join(_chunk(t, b) for t, b in chunks)
    return PNG_MAGIC + _chunk(b"IHDR", ihdr) + body + _chunk(b"IEND", b"")


def _byte_framed_png() -> bytes:
    """Pre-glyph scan layout: a 0xFF marker row holding the page's UTF-8
    byte length, then the raw bytes as 8-bit pixel values."""
    data = b"framed page text long enough"
    width = 64
    marker = bytearray(b"\xff" * width)
    marker[1:5] = struct.pack(">I", len(data))
    raw = b"\x00" + bytes(marker) + b"\x00" + data.ljust(width, b"\x00")
    ihdr = struct.pack(">IIBBBBB", width, 2, 8, 0, 0, 0, 0)
    return _png(ihdr, (b"IDAT", zlib.compress(raw)))


def _itxt_only_png() -> bytes:
    """Pre-raster scan layout: the page text in an ``ocr_text`` iTXt
    chunk over a blank one-row raster."""
    ihdr = struct.pack(">IIBBBBB", 8, 1, 8, 0, 0, 0, 0)
    itxt = b"ocr_text\x00\x00\x00\x00\x00" + b"old page text"
    return _png(ihdr, (b"iTXt", itxt), (b"IDAT", zlib.compress(b"\x00" + b"\x80" * 8)))


def _color_type_2_png() -> bytes:
    ihdr = struct.pack(">IIBBBBB", 2, 1, 8, 2, 0, 0, 0)
    return _png(ihdr, (b"IDAT", zlib.compress(b"\x00" + b"\x80" * 6)))


def _half_glyph_png() -> bytes:
    png = make_png_glyph_scan(["a page cut off halfway through its raster"])
    return png[: len(png) // 2]


@pytest.mark.parametrize(
    "build, error",
    [
        (_byte_framed_png, ERR_OCR_PROVIDER),
        (_itxt_only_png, ERR_OCR_PROVIDER),
        (lambda: PNG_MAGIC, ERR_OCR_PROVIDER),
        (_color_type_2_png, ERR_OCR_PROVIDER),
        (_half_glyph_png, "INTERNAL_ERROR: error: "),
        (lambda: _png(b"\x00\x00\x01"), "INTERNAL_ERROR: error: "),
    ],
    ids=["byte_framed", "itxt_only", "magic_only", "color_type_2", "half_truncated", "ihdr_3_bytes"],
)
def test_unreadable_scan_pngs_are_typed_failure_rows(build, error):
    """Scan text is read only from glyph rasters: the retired byte-framed
    and iTXt payloads, and PNGs the codec rejects, become failed rows
    with a typed error, never an exception."""
    res = extract_document(build())
    assert res.doc_kind == "image"
    assert res.status == STATUS_FAILED
    assert res.error.startswith(error)
    assert (res.extracted_text, res.spans) == ("", [])


# ---------------------------------------------------------------------------
# dispatcher + error taxonomy (cv_api/pipeline.py:93-151 semantics)
# ---------------------------------------------------------------------------
def test_extract_document_errors():
    assert extract_document(b"").error == ERR_OCR_PROVIDER
    assert extract_document(None).status == STATUS_FAILED
    assert extract_document(b"\x00\x01garbage").error == ERR_INVALID_FILE_TYPE
    big = b"%PDF-" + b"x" * 32
    assert extract_document(big, max_bytes=10).error == ERR_FILE_TOO_LARGE
    # corrupt PDF must become a failed ROW, never an exception
    res = extract_document(b"%PDF-1.4 but empty")
    assert res.status == STATUS_FAILED


def test_extract_document_ok():
    res = extract_document(b"<p>A paragraph long enough to pass the block scoring rule.</p>")
    assert res.status == STATUS_OK
    assert res.doc_kind == "html"
    assert res.n_pages == 1
    assert res.error is None


# ---------------------------------------------------------------------------
# THE byte-identity oracle: full corpus, golden from the content model
# ---------------------------------------------------------------------------
def test_corpus_byte_identity():
    rows = generate_corpus(n=150, seed=42)
    assert len(rows) == 150
    kinds = {r.extension for r in rows}
    assert {"html", "pdf", "png", "bin"} <= kinds
    assert any(r.is_rtl for r in rows), "corpus must include RTL PDFs"
    assert any(r.num_columns == 2 for r in rows), "corpus must include 2-col PDFs"
    mismatches = []
    for r in rows:
        res = extract_document(r.html)
        if r.text == "":
            continue  # failure/no-golden rows checked elsewhere
        if res.extracted_text != r.text:
            mismatches.append((r.url, r.extension, res.error))
    assert not mismatches, f"byte mismatches: {mismatches[:5]} ({len(mismatches)} total)"


def test_corpus_determinism():
    a = generate_corpus(n=40, seed=7)
    b = generate_corpus(n=40, seed=7)
    assert [(r.url, r.html, r.text) for r in a] == [(r.url, r.html, r.text) for r in b]
    c = generate_corpus(n=40, seed=8)
    assert [r.html for r in a] != [r.html for r in c]


def test_corpus_skewed_host():
    rows = generate_corpus(n=300, seed=42)
    skewed = sum(1 for r in rows if "skewed-host" in r.url)
    assert 0.2 <= skewed / len(rows) <= 0.4


def test_gzip_transparent_decompression():
    """Common-Crawl-style gzipped payloads extract byte-identically to
    their inflated form; zip bombs become FILE_TOO_LARGE rows; corrupt
    gzip falls through to unknown-kind handling."""
    import gzip as _gz

    from ocr_endpoint_project_spark.extraction_core.document import extract_document
    from ocr_endpoint_project_spark.sources.corpus import generate_corpus

    rows = [r for r in generate_corpus(n=30, seed=11) if r.text][:10]
    assert rows
    for r in rows:
        plain = extract_document(r.html)
        zipped = extract_document(_gz.compress(r.html))
        assert zipped.status == plain.status
        assert zipped.extracted_text == plain.extracted_text
        assert zipped.doc_kind == plain.doc_kind

    # inflated size past the cap -> FILE_TOO_LARGE, never OOM
    bomb = _gz.compress(b"<html>" + b"a" * (2_000_000) + b"</html>")
    res = extract_document(bomb, max_bytes=1_000_000)
    assert res.status == "failed" and res.error == "FILE_TOO_LARGE"

    # corrupt gzip: raw bytes sniffed as-is (unknown -> INVALID_FILE_TYPE)
    res = extract_document(b"\x1f\x8b" + b"\x00" * 40)
    assert res.status == "failed"

    # TRUNCATED gzip stream: GzipFile.read raises EOFError (not OSError);
    # must still become a row, never a task failure
    whole = _gz.compress(b"<html><body><p>" + b"hello world " * 50 + b"</p></body></html>")
    truncated = whole[: len(whole) // 2]
    res = extract_document(truncated)
    assert res.status == "failed"  # falls through to raw-byte sniffing

    # corrupted deflate body (valid header, garbage payload) -> zlib.error path
    corrupt_body = whole[:10] + bytes(255 - b for b in whole[10:-8]) + whole[-8:]
    res = extract_document(corrupt_body)
    assert res.status == "failed"


def test_warc_connector_roundtrip_and_framing():
    """Round 5: the WARC/1.0 source connector — record framing by
    Content-Length, per-member gzip, HTTP envelope parse, crawl-hygiene
    skip of non-200 records, and hard errors on truncated framing."""
    from datetime import datetime, timezone

    import pytest as _pytest

    from ocr_endpoint_project_spark.sources.warc import (
        pages_rows_from_warc,
        parse_warc,
        write_warc,
    )

    dt = datetime(2024, 3, 4, 5, 6, 7, tzinfo=timezone.utc)
    body = "<html><body>x \r\n\r\n tricky body</body></html>".encode()
    recs = [
        ("https://w.example/a", dt, body, "text/html"),
        ("https://w.example/b", dt, b"redirected", "text/html", 301),
        ("https://w.example/c", dt, b"ok too", "text/plain"),
    ]
    for gz in (False, True):
        blob = write_warc(recs, gzip_members=gz)
        parsed = parse_warc(blob)
        assert [r["http_status"] for r in parsed] == [200, 301, 200]
        assert parsed[0]["body"] == body  # CRLFs inside the body survive
        rows = pages_rows_from_warc(blob)
        assert [r[0] for r in rows] == ["https://w.example/a", "https://w.example/c"]
        assert all(r[1] == dt for r in rows)

    blob = write_warc(recs)
    with _pytest.raises(ValueError):
        parse_warc(blob[: len(blob) // 2])  # truncated record body
    with _pytest.raises(ValueError):
        parse_warc(b"NOTWARC" + blob)
    # truncated gzip member
    gzblob = write_warc(recs, gzip_members=True)
    with _pytest.raises(ValueError):
        parse_warc(gzblob[:-20])
    # missing Content-Length is a framing error -> ValueError, not KeyError
    # (round-6 ADVICE fix: consistent malformed-input contract)
    no_cl = blob.replace(b"Content-Length:", b"X-Not-Length:", 1)
    with _pytest.raises(ValueError, match="Content-Length"):
        parse_warc(no_cl)


def test_pages_from_warc_blobs_feeds_extraction(spark):
    """WARC segments -> pages DataFrame -> real extraction end-to-end:
    the connector's output schema IS the pipeline's input contract."""
    from datetime import datetime, timezone

    from ocr_endpoint_project_spark.pipeline.extract import run_extraction
    from ocr_endpoint_project_spark.sources.corpus import generate_corpus
    from ocr_endpoint_project_spark.sources.pages import pages_from_warc_blobs
    from ocr_endpoint_project_spark.sources.warc import write_warc

    docs = [r for r in generate_corpus(40, seed=5) if r.html and r.text][:12]
    # two segments of six pages each, gzip members like real CC
    blobs = []
    for half in (docs[:6], docs[6:]):
        recs = [(r.url, r.warc_ts.replace(microsecond=0), r.html, "text/html")
                for r in half]
        blobs.append((write_warc(recs, gzip_members=True),))
    pages = pages_from_warc_blobs(spark.createDataFrame(blobs, "warc binary"))
    extracted = run_extraction(pages, num_partitions=4)
    got = {r["url"]: r for r in extracted.collect()}
    assert len(got) == 12
    golden = {r.url: r.text for r in docs}
    for url, row in got.items():
        assert row["status"] == "succeeded"
        assert row["extracted_text"] == golden[url], url


def test_pages_from_warc_dir_tolerates_truncated_segment(spark, tmp_path):
    """A directory of .warc.gz segments (the Common-Crawl drop shape)
    reads end-to-end through the binaryFile source; a truncated segment
    degrades to its intact record prefix — never a job failure."""
    from datetime import datetime, timezone

    from ocr_endpoint_project_spark.sources.pages import pages_from_warc_dir
    from ocr_endpoint_project_spark.sources.warc import parse_warc, write_warc

    dt = datetime(2024, 3, 1, tzinfo=timezone.utc)
    def seg(tag, n):
        recs = [(f"https://{tag}.example/p/{i}", dt, f"<p>{tag} {i}</p>".encode(),
                 "text/html") for i in range(n)]
        return write_warc(recs, gzip_members=True)

    (tmp_path / "seg-a.warc.gz").write_bytes(seg("a", 4))
    (tmp_path / "seg-b.warc.gz").write_bytes(seg("b", 3))
    # segment c: cut mid-way through the THIRD gzip member — the two
    # complete members before the cut must survive
    c = seg("c", 3)
    member2_end = len(seg("c", 3)[: len(seg("c", 2))])
    (tmp_path / "seg-c.warc.gz").write_bytes(c[: member2_end + 40])
    # a non-WARC file that the glob must skip entirely
    (tmp_path / "manifest.txt").write_bytes(b"not a warc")

    # strict parse of the cut blob raises; tolerant returns the prefix
    import pytest as _pytest
    with _pytest.raises(ValueError):
        parse_warc(c[: member2_end + 40])
    assert len(parse_warc(c[: member2_end + 40], tolerant=True)) == 2

    pages = pages_from_warc_dir(spark, str(tmp_path))
    rows = {r["url"]: bytes(r["html"]) for r in pages.collect()}
    assert len(rows) == 4 + 3 + 2
    assert rows["https://a.example/p/0"] == b"<p>a 0</p>"
    assert rows["https://c.example/p/1"] == b"<p>c 1</p>"
    assert "https://c.example/p/2" not in rows


def test_pdf_mixed_direction_lines_two_level_order():
    """Two-level bidi (round 6): an LTR token run embedded in an
    Arabic-base line reads left-to-right inside the RTL line, and an
    Arabic run embedded in a Latin-base line reads right-to-left."""
    # RTL base: logical "سلام عليكم hello world بيانات";
    # physically the first logical word sits at the LARGEST x, while the
    # embedded Latin pair keeps ascending x inside its run
    rtl_line = [
        TextSpan(500, 700, "سلام"),
        TextSpan(430, 700, "عليكم"),
        TextSpan(300, 700, "hello"),
        TextSpan(360, 700, "world"),
        TextSpan(200, 700, "بيانات"),
    ]
    # LTR base: logical "report for قسم البيانات team"; the embedded
    # Arabic pair reads right-to-left inside its run
    ltr_line = [
        TextSpan(50, 686, "report"),
        TextSpan(110, 686, "for"),
        TextSpan(200, 686, "قسم"),
        TextSpan(150, 686, "البيانات"),
        TextSpan(260, 686, "team"),
    ]
    pdf = make_pdf([rtl_line + ltr_line], compress=True)
    text, _, _ = extract_pdf(pdf)
    assert text == (
        "سلام عليكم hello world بيانات\nreport for قسم البيانات team"
    )
