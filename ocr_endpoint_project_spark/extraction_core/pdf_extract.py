"""Layout-aware text extraction from PDF byte streams (pure stdlib).

Replaces the reference's remote OCR of PDFs (``ocr_common.py:324-351``)
with a deterministic local parse: objects and content streams are read
directly from the PDF (FlateDecode via zlib), text-showing operators are
tokenized into positioned spans, and spans are assembled into reading
order — glyph-run clustering into lines, x-gap column detection,
column-major top-down ordering, RTL x-descending within-line order for
Arabic runs — i.e. the "layout-aware span assembly" the north rule asks
for. Page texts are joined with ``"\\n\\n"`` and the result stripped,
matching the reference page-join contract (``ocr_common.py:341-344``).

Heuristic contract (documented so the corpus generator can derive golden
text independently):

* spans whose baselines differ by <= 2.0 pt form one line;
* within a line, spans are joined with a single space, ordered by x
  ascending — or descending when the line's text is majority-Arabic;
* column detection: x-origins are clustered with 50 pt tolerance; if >= 2
  clusters each hold >= 2 lines and adjacent cluster centers are >= 200 pt
  apart, the page is multi-column, read column-major (leftmost first);
* a vertical gap > 2 x the font size starts a new paragraph ("\\n\\n");
  otherwise lines are joined with "\\n";
* column boundaries are paragraph boundaries.
"""

from __future__ import annotations

import re
import zlib

from .page_join import join_parts, page_parts

LINE_Y_TOL = 2.0
COL_CLUSTER_TOL = 50.0
COL_MIN_GAP = 200.0
COL_MIN_LINES = 2
COL_SPLIT_GAP = 120.0  # same-baseline spans further apart than this are different columns
PARA_GAP_FACTOR = 2.0

_OBJ_RE = re.compile(rb"(\d+)\s+\d+\s+obj")
_STREAM_RE = re.compile(rb"stream\r?\n")
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)")
_PAGES_REF_RE = re.compile(rb"/Pages\s+(\d+)\s+\d+\s+R")
_KIDS_RE = re.compile(rb"/Kids\s*\[([^\]]*)\]")
_REF_RE = re.compile(rb"(\d+)\s+\d+\s+R")
_CONTENTS_RE = re.compile(rb"/Contents\s+(\d+)\s+\d+\s+R")
_TYPE_PAGE_RE = re.compile(rb"/Type\s*/Page\b")


class PdfParseError(ValueError):
    pass


def _parse_objects(data: bytes) -> dict[int, tuple[bytes, bytes | None]]:
    """Return {obj_num: (dict_bytes, stream_bytes|None)}."""
    objs: dict[int, tuple[bytes, bytes | None]] = {}
    for m in _OBJ_RE.finditer(data):
        num = int(m.group(1))
        start = m.end()
        sm = _STREAM_RE.search(data, start)
        em = data.find(b"endobj", start)
        if em == -1:
            continue
        if sm is not None and sm.start() < em:
            head = data[start : sm.start()]
            lm = _LENGTH_RE.search(head)
            if lm:
                s0 = sm.end()
                stream = data[s0 : s0 + int(lm.group(1))]
            else:  # fall back to scanning for endstream
                s0 = sm.end()
                e0 = data.find(b"endstream", s0)
                stream = data[s0:e0].rstrip(b"\r\n")
            objs[num] = (head, stream)
        else:
            objs[num] = (data[start:em], None)
    return objs


def _walk_pages(data: bytes):
    """(objs, page object numbers in /Kids document order)."""
    objs = _parse_objects(data)
    # catalog → /Pages → /Kids; fall back to document-order /Type /Page scan
    page_nums: list[int] = []
    root = next((n for n, (h, _) in sorted(objs.items()) if b"/Type" in h and b"/Catalog" in h), None)
    if root is not None:
        pm = _PAGES_REF_RE.search(objs[root][0])
        if pm and int(pm.group(1)) in objs:
            km = _KIDS_RE.search(objs[int(pm.group(1))][0])
            if km:
                page_nums = [int(r.group(1)) for r in _REF_RE.finditer(km.group(1))]
    if not page_nums:
        page_nums = [n for n, (h, _) in sorted(objs.items()) if _TYPE_PAGE_RE.search(h)]
    return objs, page_nums


def _decode_stream(objs, num: int) -> bytes:
    head, stream = objs[num]
    if stream is None:
        raise PdfParseError(f"object {num} has no stream")
    if b"/FlateDecode" in head:
        return zlib.decompress(stream)
    return stream


def _page_content_streams(data: bytes) -> list[bytes]:
    """Content stream bytes per page, in /Kids document order."""
    objs, page_nums = _walk_pages(data)
    streams: list[bytes] = []
    for pn in page_nums:
        cm = _CONTENTS_RE.search(objs[pn][0])
        if not cm:
            continue
        streams.append(_decode_stream(objs, int(cm.group(1))))
    if not streams:
        raise PdfParseError("no page content streams found")
    return streams


# scanned-page support (round 5): a page whose /Resources reference an
# image XObject and whose content stream shows no text is a RASTER page
# — the shape the reference OCRs (pdf -> page image -> OCR). The
# embedded /DeviceGray 8-bit bitmap decodes to pixels and goes through
# the template-match recognizer (png_glyphs.ocr_text).
_XOBJ_REF_RE = re.compile(rb"/XObject\s*<<[^>]*?/Im0\s+(\d+)\s+0\s+R")
_IMG_W_RE = re.compile(rb"/Width\s+(\d+)")
_IMG_H_RE = re.compile(rb"/Height\s+(\d+)")


def _page_image_pixels(objs, page_num: int):
    """(H, W) uint8 pixel array of the page's image XObject, or None.
    Handles /BitsPerComponent 8 (raw gray rows) and 1 (bilevel, rows
    padded to byte boundaries per the PDF image spec)."""
    m = _XOBJ_REF_RE.search(objs[page_num][0])
    if not m or int(m.group(1)) not in objs:
        return None
    inum = int(m.group(1))
    head, _ = objs[inum]
    if b"/Subtype" not in head or b"/Image" not in head:
        return None
    wm, hm = _IMG_W_RE.search(head), _IMG_H_RE.search(head)
    if not (wm and hm):
        return None
    import numpy as np

    w, h = int(wm.group(1)), int(hm.group(1))
    raw = _decode_stream(objs, inum)
    bpc = 1 if b"/BitsPerComponent 1" in head else 8
    if bpc == 1:
        stride = (w + 7) // 8
        if len(raw) < h * stride:
            return None
        bits = np.unpackbits(
            np.frombuffer(raw[: h * stride], dtype=np.uint8).reshape(h, stride),
            axis=1,
        )[:, :w]
        return (bits * 255).astype(np.uint8)
    if len(raw) < w * h:
        return None
    return np.frombuffer(raw[: w * h], dtype=np.uint8).reshape(h, w)


# ---------------------------------------------------------------------------
# content-stream tokenizer
# ---------------------------------------------------------------------------

_ESCAPES = {
    b"n"[0]: "\n", b"r"[0]: "\r", b"t"[0]: "\t", b"b"[0]: "\b", b"f"[0]: "\f",
    b"("[0]: "(", b")"[0]: ")", b"\\"[0]: "\\",
}

# single compiled scanner: one C-level match per token instead of
# byte-at-a-time dispatch (the tokenizer was the kernel's hottest path).
# ``lit`` fast-paths the overwhelmingly common literal string with no
# escapes and no nested parens (body decodes as latin-1, byte-for-byte
# what the stateful parser produces); anything with '\\' or '(' in the
# body fails the group and falls back to _literal_string.
_SCANNER = re.compile(
    rb"(?P<ws>\s+)"
    rb"|\((?P<lit>[^()\\]*)\)"
    rb"|(?P<hex><[0-9A-Fa-f\s]+>|<>)"
    rb"|(?P<dopen><<)|(?P<dclose>>>)"
    rb"|(?P<arr>[\[\]])"
    rb"|(?P<name>/[^\s\[\]()<>/]*)"
    rb"|(?P<num>[-+]?(?:\d+\.\d*|\.\d+|\d+))"
    rb"|(?P<op>[A-Za-z'\"*]+)"
)
_WS_RE = re.compile(rb"\s+")

# fast-path scanner for _spans_from_stream: same alternatives, but every
# token also consumes its TRAILING whitespace, so the ws-only branch
# almost never fires (tokens and separators alternate in real content
# streams — this halves the match-call count). Token text must then be
# read via the NAMED group, never group(0).
_SCANNER_WS = re.compile(rb"(?:" + _SCANNER.pattern + rb")\s*")


def _literal_string(stream: bytes, i: int) -> tuple[str, int]:
    """Parse a literal ( ... ) string starting after the '('. Returns
    (text, index-after-closing-paren)."""
    out = []
    n = len(stream)
    depth = 1
    while i < n and depth:
        ch = stream[i]
        if ch == 0x5C and i + 1 < n:  # backslash
            nxt = stream[i + 1]
            if nxt in _ESCAPES:
                out.append(_ESCAPES[nxt])
                i += 2
            elif 0x30 <= nxt <= 0x37:  # octal
                j = i + 1
                oct_digits = b""
                while j < n and len(oct_digits) < 3 and 0x30 <= stream[j] <= 0x37:
                    oct_digits += stream[j : j + 1]
                    j += 1
                out.append(chr(int(oct_digits, 8)))
                i = j
            else:
                i += 2
        elif ch == 0x28:
            depth += 1
            out.append("(")
            i += 1
        elif ch == 0x29:
            depth -= 1
            if depth:
                out.append(")")
            i += 1
        else:
            out.append(chr(ch))
            i += 1
    return "".join(out), i


def _tokenize(stream: bytes):
    """Yield tokens: floats, names (/F1), operators, and ("str", text)."""
    i, n = 0, len(stream)
    scan = _SCANNER.match
    while i < n:
        m = scan(stream, i)
        if m is None:
            if stream[i] == 0x28:  # escaped/nested literal — stateful parse
                text, i = _literal_string(stream, i + 1)
                yield ("str", text)
            else:
                i += 1  # unknown byte — skip
            continue
        i = m.end()
        kind = m.lastgroup
        if kind == "ws":
            continue
        if kind == "lit":
            yield ("str", m.group("lit").decode("latin-1"))
        elif kind == "num":
            yield ("num", float(m.group(0)))
        elif kind == "hex":
            hexbody = _WS_RE.sub(b"", m.group(0)[1:-1])
            if len(hexbody) % 2:
                hexbody += b"0"
            yield ("str", bytes.fromhex(hexbody.decode("ascii")).decode("utf-8", "replace"))
        elif kind == "name":
            yield ("name", m.group(0).decode("latin-1"))
        elif kind == "dopen":
            yield ("op", "<<")
        elif kind == "dclose":
            yield ("op", ">>")
        elif kind == "arr":
            yield ("op", m.group(0).decode())
        else:  # op
            yield ("op", m.group(0).decode("latin-1"))


# fast-path scanner (round 5, html_extract's regex-scanner idiom applied
# to PDF): the overwhelmingly common content-stream shape — BT, optional /Fn s Tf
# size changes, `1 0 0 1 x y Tm` positioning, `<hex> Tj` shows, ET —
# walks with ONE coarse regex per operator group instead of ~10 generic
# token matches per span. Any byte the coarse grammar can't consume
# (literal strings, Td/TD/T*/TL/TJ, other matrices) returns None and the
# caller falls back to the general executor; a corpus-wide parity test
# pins fast == general on every stream the writer emits.
_FAST_ITEM = re.compile(
    rb"(?:(?P<bt>BT)|(?P<et>ET)"
    rb"|/F\d+ (?P<tf>[-+]?[\d.]+) Tf"
    rb"|1 0 0 1 (?P<tx>[-+]?[\d.]+) (?P<ty>[-+]?[\d.]+) Tm"
    rb"|<(?P<hx>[0-9A-Fa-f]*)> Tj)\s*"
)


def _spans_fast(stream: bytes) -> list[tuple[float, float, float, str]] | None:
    spans: list[tuple[float, float, float, str]] = []
    x = y = 0.0
    size = 12.0
    i, n = 0, len(stream)
    fromhex = bytes.fromhex
    # finditer keeps the per-operator loop in C; contiguity is enforced
    # (m.start() != i bails to the general path), so the accepted
    # language is identical to the one-match-per-call form
    for m in _FAST_ITEM.finditer(stream):
        if m.start() != i:
            return None  # outside the coarse grammar — use the general path
        i = m.end()
        g = m.lastgroup
        if g == "hx":
            hexbody = m.group("hx")
            if len(hexbody) % 2:
                hexbody += b"0"
            spans.append(
                (x, y, size, fromhex(hexbody.decode("ascii")).decode("utf-8", "replace"))
            )
        elif g == "ty":
            x, y = float(m.group("tx")), float(m.group("ty"))
        elif g == "tf":
            size = float(m.group("tf"))
        elif g == "bt":
            x = y = 0.0
    if i != n:
        return None  # trailing bytes the grammar did not consume
    return spans


def _spans_from_stream(stream: bytes) -> list[tuple[float, float, float, str]]:
    """Execute text operators; return (x, y, size, text) spans.

    The token scan is INLINED rather than consuming ``_tokenize`` — the
    generator's ~1M yield/tuple round-trips were the kernel's single
    hottest edge (profiled: ~45% of PDF time). Token semantics are
    identical; ``_tokenize`` remains the reference implementation and
    the parity surface for tests.
    """
    spans: list[tuple[float, float, float, str]] = []
    stack: list = []
    x = y = 0.0
    line_x = line_y = 0.0
    size = 12.0
    leading = 0.0
    i, n = 0, len(stream)
    scan = _SCANNER_WS.match
    while i < n:
        m = scan(stream, i)
        if m is None:
            if stream[i] == 0x28:  # escaped/nested literal — stateful parse
                text, i = _literal_string(stream, i + 1)
                stack.append(("str", text))
            else:
                i += 1  # unknown byte — skip
            continue
        i = m.end()
        kind = m.lastgroup
        if kind == "ws":
            continue
        if kind == "num":
            stack.append(("num", float(m.group("num"))))
            continue
        if kind == "lit":
            stack.append(("str", m.group("lit").decode("latin-1")))
            continue
        if kind == "name":
            stack.append(("name", m.group("name").decode("latin-1")))
            continue
        if kind == "hex":
            hexbody = _WS_RE.sub(b"", m.group("hex")[1:-1])
            if len(hexbody) % 2:
                hexbody += b"0"
            stack.append(
                ("str", bytes.fromhex(hexbody.decode("ascii")).decode("utf-8", "replace"))
            )
            continue
        if kind == "dopen":
            op = "<<"
        elif kind == "dclose":
            op = ">>"
        elif kind == "arr":
            op = m.group("arr").decode("latin-1")
        else:
            op = m.group("op").decode("latin-1")
        if op == "BT":
            x = y = line_x = line_y = 0.0
        elif op == "Tf":
            if stack and stack[-1][0] == "num":
                size = stack[-1][1]
        elif op in ("Td", "TD"):
            if len(stack) >= 2 and stack[-1][0] == "num" and stack[-2][0] == "num":
                tx, ty = stack[-2][1], stack[-1][1]
                line_x += tx
                line_y += ty
                x, y = line_x, line_y
                if op == "TD":
                    leading = -ty
        elif op == "Tm":
            if len(stack) >= 6:
                nums = [s[1] for s in stack[-6:] if s[0] == "num"]
                if len(nums) == 6:
                    line_x, line_y = nums[4], nums[5]
                    x, y = line_x, line_y
        elif op == "TL":
            if stack and stack[-1][0] == "num":
                leading = stack[-1][1]
        elif op == "T*":
            line_y -= leading
            x, y = line_x, line_y
        elif op == "Tj":
            if stack and stack[-1][0] == "str":
                spans.append((x, y, size, stack[-1][1]))
        elif op == "'":
            line_y -= leading
            x, y = line_x, line_y
            if stack and stack[-1][0] == "str":
                spans.append((x, y, size, stack[-1][1]))
        elif op == "TJ":
            # array of strings/kerning numbers since the last "["
            parts = []
            for k, v in stack:
                if k == "str":
                    parts.append(v)
            if parts:
                spans.append((x, y, size, "".join(parts)))
        if op not in ("<<", ">>", "[", "]"):  # "]" must not clear: TJ reads the array
            stack = []
    return spans


# ---------------------------------------------------------------------------
# span assembly: lines → columns → paragraphs → page text
# ---------------------------------------------------------------------------

_ARABIC_RE = re.compile(r"[؀-ۿݐ-ݿࢠ-ࣿﭐ-﷿ﹰ-﻿]")


def is_rtl_text(text: str) -> bool:
    """True when the text's letters are majority-Arabic (RTL layout)."""
    if not _ARABIC_RE.search(text):  # fast C-scan exit for the common case
        return False
    # C-level counting (map(str.isalpha, ...) stays in the interpreter's
    # fast path; the genexpr form was ~25% of PDF line-assembly time)
    letters = sum(map(str.isalpha, text))
    if not letters:
        return False
    arabic = sum(map(str.isalpha, _ARABIC_RE.findall(text)))
    return arabic * 2 > letters


def _cluster_lines(spans: list[tuple[float, float, float, str]]):
    """Group spans into lines by baseline y (tolerance LINE_Y_TOL), then
    split any line whose consecutive x-origins gap by > COL_SPLIT_GAP —
    two columns sharing a baseline are different lines.

    Lines are ``[y, size, spans]`` lists (round 8: dict records cost
    ~10% of PDF assembly in hashing/lookup overhead)."""
    grouped: list[list] = []
    for x, y, size, text in sorted(spans, key=lambda s: (-s[1], s[0])):
        if grouped and abs(grouped[-1][0] - y) <= LINE_Y_TOL:
            g = grouped[-1]
            g[2].append((x, text))
            if size > g[1]:
                g[1] = size
        else:
            grouped.append([y, size, [(x, text)]])
    lines: list[list] = []
    for y, size, sp in grouped:
        run: list[tuple[float, str]] = []
        for x, text in sorted(sp, key=lambda s: s[0]):
            if run and x - run[-1][0] > COL_SPLIT_GAP:
                lines.append([y, size, run])
                run = []
            run.append((x, text))
        if run:
            lines.append([y, size, run])
    return lines


def _line_text(line: list) -> str:
    """Join a line's spans in reading order — two-level bidi (round 6).

    ``line`` is a ``[y, size, spans]`` record; ``line[2]`` (its
    ``(x, text)`` spans) is x-ASCENDING by construction (_cluster_lines
    sorts each baseline group by x before splitting runs). Ordering is
    the UAX#9-shaped two-level rule:

    * line BASE direction = majority script of the whole line
      (:func:`is_rtl_text`);
    * spans partition into maximal same-direction RUNS (per-span
      majority script; a span with no letters is NEUTRAL and takes the
      base direction — so an all-Arabic line with digit spans stays one
      RTL run, byte-identical to the pre-r6 behavior);
    * runs are read base-first: x-ascending for an LTR base,
      x-descending for an RTL base;
    * WITHIN a run, spans read in the run's own direction — an Arabic
      phrase embedded in a Latin line reads right-to-left, a Latin token
      embedded in an Arabic line reads left-to-right (the mixed-line
      case the reference's Arabic CVs hit, DATABASE.md:74-80).

    NOTE: RTL ordering is the explicit stable sort by -x, NOT reversal —
    two spans sharing an x must keep their stable order."""
    spans = line[2]
    joined = "".join(t for _, t in spans)
    if not _ARABIC_RE.search(joined):
        # LTR fast path: no Arabic anywhere in the line means the base is
        # LTR and every span is LTR or neutral — one x-ascending run,
        # byte-identical to the general two-level walk below
        return " ".join(t for _, t in spans if t)
    base_rtl = is_rtl_text(joined)
    runs: list[tuple[bool, list]] = []
    for x, t in spans:
        d = is_rtl_text(t) if any(map(str.isalpha, t)) else base_rtl
        if runs and runs[-1][0] == d:
            runs[-1][1].append((x, t))
        else:
            runs.append((d, [(x, t)]))
    if base_rtl:
        runs.reverse()
    out: list[tuple[float, str]] = []
    for d, run in runs:
        out.extend(sorted(run, key=lambda s: -s[0]) if d else run)
    return " ".join(t for _, t in out if t)


def _detect_columns(lines: list[list]) -> list[list[list]]:
    """Cluster line x-origins; return lines grouped per column (l->r)."""
    starts = sorted(min(x for x, _ in ln[2]) for ln in lines)
    clusters: list[list[float]] = []
    for s in starts:
        if clusters and s - clusters[-1][0] <= COL_CLUSTER_TOL:
            clusters[-1].append(s)
        else:
            clusters.append([s])
    if len(clusters) < 2:
        return [lines]
    centers = [sum(c) / len(c) for c in clusters]
    ok = all(len(c) >= COL_MIN_LINES for c in clusters) and all(
        centers[i + 1] - centers[i] >= COL_MIN_GAP for i in range(len(centers) - 1)
    )
    if not ok:
        return [lines]
    bounds = [(centers[i] + centers[i + 1]) / 2 for i in range(len(centers) - 1)]
    cols: list[list[list]] = [[] for _ in clusters]
    for ln in lines:
        x0 = min(x for x, _ in ln[2])
        ci = sum(1 for b in bounds if x0 > b)
        cols[ci].append(ln)
    return [c for c in cols if c]


def _column_text(lines: list[list]) -> str:
    """Join a column's lines: '\\n' within paragraph, '\\n\\n' across."""
    lines = sorted(lines, key=lambda ln: -ln[0])
    parts: list[str] = []
    prev_y = None
    prev_size = None
    for ln in lines:
        txt = _line_text(ln)
        if not txt:
            continue
        if prev_y is None:
            parts.append(txt)
        else:
            gap = prev_y - ln[0]
            sep = "\n\n" if gap > PARA_GAP_FACTOR * max(prev_size, ln[1]) else "\n"
            parts.append(sep + txt)
        prev_y, prev_size = ln[0], ln[1]
    return "".join(parts)


def extract_pdf_pages(payload: bytes) -> list[str]:
    """Per-page main text in reading order (columns joined with '\\n\\n').

    Text pages go through span assembly; pages with no text spans but an
    image XObject are SCANNED pages and go through raster OCR
    (round 5 — the reference's pdf->image->OCR path, real pixels)."""
    objs, page_nums = _walk_pages(payload)
    out = []
    got_any = False
    ocr_slots: list[int] = []
    ocr_grids: list = []
    for pn in page_nums:
        cm = _CONTENTS_RE.search(objs[pn][0])
        if not cm:
            continue
        got_any = True
        stream = _decode_stream(objs, int(cm.group(1)))
        spans = _spans_fast(stream)
        if spans is None:
            spans = _spans_from_stream(stream)
        if not spans:
            px = _page_image_pixels(objs, pn)
            if px is not None:
                ocr_slots.append(len(out))
                out.append("")  # filled by the batched match below
                ocr_grids.append(px)
            else:
                out.append("")
            continue
        lines = _cluster_lines(spans)
        cols = _detect_columns(lines)
        out.append("\n\n".join(t for t in (_column_text(c) for c in cols) if t))
    if ocr_grids:
        # ONE vectorized template match for all imaged pages of the doc
        from .png_glyphs import ocr_pages

        for slot, text in zip(ocr_slots, ocr_pages(ocr_grids)):
            out[slot] = text
    if not got_any:
        raise PdfParseError("no page content streams found")
    return out


def extract_pdf(payload: bytes) -> tuple[str, list[tuple[int, int, str]], int]:
    """Extract ``(text, spans, n_pages)`` from PDF bytes.

    Page texts go through the shared page-join
    (:func:`page_join.join_parts`, ``ocr_common.py:341-344``). Spans are
    ``(start, end, kind)`` offsets of each page in the final text.
    """
    pages = extract_pdf_pages(payload)
    text, spans = join_parts(page_parts(pages))
    return text, spans, len(pages)
