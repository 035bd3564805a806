"""Main-content extraction from HTML: boilerplate stripping via block scoring.

A trafilatura/readability-style heuristic over a regex tag stream (no
lxml in this environment): the document is segmented into text blocks
at block-level tag boundaries; each block is scored by text length and
link density; navigation/chrome subtrees are dropped wholesale. Kept
blocks are joined with ``"\\n\\n"`` and the result is ``.strip()``-ed —
the same join contract the reference applies to OCR page parts
(``ocr_common.py:341-344``).

Determinism contract (the fixture generator in ``sources/corpus.py``
constructs pages around exactly these rules, so golden text is derivable
independently of this extractor):

* subtrees under ``script style noscript template svg iframe head button
  select option nav header footer aside form`` are dropped entirely;
* a block is flushed at every block-tag or container boundary;
* block text is whitespace-collapsed with ``" ".join(raw.split())``;
* headings (h1–h6) are kept iff ``0 < len <= 120`` and link density
  ``<= 0.2``;
* all other blocks are kept iff ``len >= 25`` and link density
  ``<= 0.35``;
* link density = collapsed length of anchor text / collapsed block length.

The scanner matches the stdlib ``html.parser`` block model on
WELL-FORMED markup — tags whose attribute values contain no raw
``<``/``>``, terminated constructs, valid charrefs — and is ~3x faster
on 10 KB pages. ``tests/test_html_fast_parity.py`` keeps an
``html.parser`` reference and compares the two on the synthetic corpus,
adversarial markup and an 8k-case hypothesis fuzz over that grammar. On
garbage markup (stray ``<a&;x!``-style tags) the two recover
differently; a boilerplate stripper only needs a deterministic choice,
which both make. Entity decoding uses ``html.unescape`` (HTML5
longest-match) on text nodes.
"""

from __future__ import annotations

import re
from html import unescape

from .page_join import join_parts

DROP_SUBTREE_TAGS = frozenset(
    "script style noscript template svg iframe head button select option "
    "nav header footer aside form".split()
)
BLOCK_TAGS = frozenset(
    "p h1 h2 h3 h4 h5 h6 li pre blockquote td th dt dd figcaption caption".split()
)
CONTAINER_TAGS = frozenset(
    "div section article main body html table thead tbody tfoot tr ul ol dl".split()
)
HEADING_TAGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})

MIN_BLOCK_CHARS = 25
MAX_HEADING_CHARS = 120
MAX_LINK_DENSITY = 0.35
MAX_HEADING_LINK_DENSITY = 0.2

KIND_HEADING = "heading"
KIND_PARAGRAPH = "paragraph"


# alternatives, in order: comment, declaration/bogus (<!...>), processing
# instruction (<?...>), named start/end tag, bogus end tag (</ + non-letter
# consumes through the next '>' per the HTML5 bogus-comment rule)
_MARKUP_RE = re.compile(
    r"<!--.*?-->|<![^>]*>|<\?[^>]*>|</?([a-zA-Z][a-zA-Z0-9-]*)[^>]*>|</[^>]*>", re.S
)  # every alternative requires the closing '>': an unterminated tag at
#    EOF is data, matching html.parser's close() behavior. The named-tag
#    alternative captures the tag name directly (group 1) — same language
#    as the former `</?[a-zA-Z][^>]*>` since name chars are a subset of
#    [^>], but it saves a second regex match per tag.
# script/style are CDATA-like in html.parser: content runs literally to
# the close tag (template is NOT — it parses normally, so it stays on the
# drop_depth path for parity)
_RAWTEXT_CLOSE = {
    t: re.compile(rf"</{t}\b[^>]*>", re.I) for t in ("script", "style")
}

# href attribute inside an already-matched <a ...> tag source.  Mirrors
# html.parser's attribute grammar for the declared parity scope
# (well-formed markup): quoted values take everything to the matching
# quote, unquoted values run to whitespace/'>'; values are
# charref-unescaped like html.parser does.
_HREF_RE = re.compile(
    r"""\bhref\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s>]*))""", re.I
)


def _collapse(s: str) -> str:
    return " ".join(s.split())


def _href_of(tag_src: str) -> str | None:
    m = _HREF_RE.search(tag_src)
    if m is None:
        return None
    v = m.group(1) if m.group(1) is not None else (
        m.group(2) if m.group(2) is not None else m.group(3)
    )
    if v and "&" in v:
        v = unescape(v)
    return v or None


def _keep(tag: str, text: str, density: float) -> bool:
    if tag in HEADING_TAGS:
        return 0 < len(text) <= MAX_HEADING_CHARS and density <= MAX_HEADING_LINK_DENSITY
    return len(text) >= MIN_BLOCK_CHARS and density <= MAX_LINK_DENSITY


def extract_html(
    payload: bytes,
) -> tuple[str, list[tuple[int, int, str]], list[str]]:
    """Extract main content from HTML bytes.

    Returns ``(text, spans, links)`` where ``spans`` are ``(start, end,
    kind)`` character offsets of each kept block inside ``text`` and
    ``links`` are the raw ``<a href>`` values in document order (the
    crawl-frontier / host-graph input; collected in the same parse
    pass, never a second scan). Blocks go through the shared page-join
    (:func:`page_join.join_parts`).
    """
    html = payload.decode("utf-8", errors="replace")
    blocks: list[tuple[str, str]] = []
    links: list[str] = []
    fragments: list[str] = []
    link_fragments: list[str] = []
    block_tag = ""
    drop_depth = 0
    a_depth = 0

    def flush() -> None:
        nonlocal fragments, link_fragments, block_tag
        if not fragments:  # nothing buffered (the common boundary case):
            block_tag = ""  # link_fragments ⊆ fragments, so both empty
            return
        text = _collapse("".join(fragments))
        link_text = _collapse("".join(link_fragments))
        tag = block_tag
        fragments = []
        link_fragments = []
        block_tag = ""
        if not text:
            return
        density = len(link_text) / len(text)
        if _keep(tag, text, density):
            kind = KIND_HEADING if tag in HEADING_TAGS else KIND_PARAGRAPH
            blocks.append((kind, text))

    def data(chunk: str) -> None:
        if drop_depth or not chunk:
            return
        if "&" in chunk:
            chunk = unescape(chunk)
        fragments.append(chunk)
        if a_depth:
            link_fragments.append(chunk)

    pos = 0
    n = len(html)
    search = _MARKUP_RE.search
    while pos < n:
        m = search(html, pos)
        if m is None:
            data(html[pos:])
            break
        start = m.start()
        if start > pos:
            data(html[pos:start])
        end = m.end()
        pos = end
        name = m.group(1)
        if name is None:  # comment / doctype / PI / bogus end tag
            continue
        # index probes instead of materializing m.group(0) per tag — the
        # matched source is only needed for <a href> extraction
        name = name.lower()
        closing = html[start + 1] == "/"
        self_closing = not closing and html[end - 2] == "/"
        if not closing and name == "a":
            # collected regardless of drop_depth: boilerplate anchors are
            # stripped from TEXT but feed the crawl/link graph
            href = _href_of(html[start:end])
            if href:
                links.append(href)

        if self_closing:
            if name == "br" and not drop_depth:
                fragments.append(" ")
            continue
        if closing:
            if name in DROP_SUBTREE_TAGS:
                drop_depth = max(0, drop_depth - 1)
            elif drop_depth:
                pass
            elif name == "a":
                a_depth = max(0, a_depth - 1)
            elif name in BLOCK_TAGS or name in CONTAINER_TAGS:
                # empty-buffer flush only resets block_tag — skip the call
                if fragments:
                    flush()
                else:
                    block_tag = ""
            continue
        # start tag
        if name in DROP_SUBTREE_TAGS:
            if name in _RAWTEXT_CLOSE:
                # raw-text element: skip content to its close tag directly
                mm = _RAWTEXT_CLOSE[name].search(html, pos)
                pos = mm.end() if mm else n
            else:
                drop_depth += 1
            continue
        if drop_depth:
            continue
        if name == "a":
            a_depth += 1
        elif name == "br":
            fragments.append(" ")
        elif name in BLOCK_TAGS:
            if fragments:
                flush()
            block_tag = name
        elif name in CONTAINER_TAGS:
            if fragments:
                flush()
            else:
                block_tag = ""
    flush()
    text, spans = join_parts(blocks)
    return text, spans, links
