"""Regex HTML scanner vs a stdlib ``html.parser`` reference:
text/spans/links parity on the full corpus plus adversarial markup.

The reference (``_BlockParser`` + ``extract_html_blocks_reference``)
lives here, not in the runtime package: the engine runs only the regex
scanner, and this file holds it to the ``html.parser`` block model."""

from __future__ import annotations

from html.parser import HTMLParser

import pytest

from ocr_endpoint_project_spark.extraction_core.html_extract import (
    BLOCK_TAGS,
    CONTAINER_TAGS,
    DROP_SUBTREE_TAGS,
    HEADING_TAGS,
    KIND_HEADING,
    KIND_PARAGRAPH,
    _collapse,
    _keep,
    extract_html,
)
from ocr_endpoint_project_spark.extraction_core.page_join import join_parts
from ocr_endpoint_project_spark.sources.corpus import generate_corpus


class _BlockParser(HTMLParser):
    """Accumulate (tag, text, link_density) blocks from an HTML stream."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._drop_depth = 0
        self._a_depth = 0
        self._fragments: list[str] = []
        self._link_fragments: list[str] = []
        self._block_tag = ""
        self.blocks: list[tuple[str, str, float]] = []
        # every <a href> in document order, INCLUDING anchors inside
        # dropped chrome subtrees (nav/footer/...): boilerplate links are
        # stripped from the TEXT, but a crawler's link graph follows them
        self.links: list[str] = []

    # -- block lifecycle ---------------------------------------------------
    def _flush(self) -> None:
        text = _collapse("".join(self._fragments))
        link_text = _collapse("".join(self._link_fragments))
        tag = self._block_tag
        self._fragments = []
        self._link_fragments = []
        self._block_tag = ""
        if not text:
            return
        density = len(link_text) / len(text)
        self.blocks.append((tag, text, density))

    # -- parser callbacks ----------------------------------------------------
    def _collect_href(self, attrs) -> None:
        href = next((v for k, v in attrs if k == "href"), None)
        if href:
            self.links.append(href)

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag == "a":
            self._collect_href(attrs)  # before drop check: nav links count
        if tag in DROP_SUBTREE_TAGS:
            self._drop_depth += 1
            return
        if self._drop_depth:
            return
        if tag == "a":
            self._a_depth += 1
            return
        if tag == "br":
            self._fragments.append(" ")
            return
        if tag in BLOCK_TAGS:
            self._flush()
            self._block_tag = tag
        elif tag in CONTAINER_TAGS:
            self._flush()

    def handle_startendtag(self, tag: str, attrs) -> None:
        if tag == "a":
            self._collect_href(attrs)
        if tag == "br" and not self._drop_depth:
            self._fragments.append(" ")

    def handle_endtag(self, tag: str) -> None:
        if tag in DROP_SUBTREE_TAGS:
            self._drop_depth = max(0, self._drop_depth - 1)
            return
        if self._drop_depth:
            return
        if tag == "a":
            self._a_depth = max(0, self._a_depth - 1)
            return
        if tag in BLOCK_TAGS or tag in CONTAINER_TAGS:
            self._flush()

    def handle_data(self, data: str) -> None:
        if self._drop_depth or not data:
            return
        self._fragments.append(data)
        if self._a_depth:
            self._link_fragments.append(data)


def extract_html_blocks_reference(
    payload: bytes, links: list[str] | None = None
) -> list[tuple[str, str]]:
    """Stdlib-parser implementation of the block model — the parity
    reference for the regex scanner in ``html_extract``. If ``links`` is
    a list, every ``<a href>`` value is appended to it in document order
    (same single parse pass)."""
    html = payload.decode("utf-8", errors="replace")
    parser = _BlockParser()
    parser.feed(html)
    parser.close()
    parser._flush()
    if links is not None:
        links.extend(parser.links)
    out: list[tuple[str, str]] = []
    for tag, text, density in parser.blocks:
        if _keep(tag, text, density):
            kind = KIND_HEADING if tag in HEADING_TAGS else KIND_PARAGRAPH
            out.append((kind, text))
    return out


def reference_html(payload: bytes):
    """``extract_html``'s ``(text, spans, links)`` via the reference parser."""
    links: list[str] = []
    text, spans = join_parts(extract_html_blocks_reference(payload, links))
    return text, spans, links


def both(payload: bytes):
    return extract_html(payload), reference_html(payload)


def test_parity_on_corpus():
    rows = generate_corpus(n=250, seed=42, richness=4)
    mismatches = []
    for r in rows:
        if r.extension != "html":
            continue
        fast, ref = both(r.html)
        if fast != ref:
            mismatches.append(r.url)
    assert not mismatches, mismatches[:3]


def test_parity_fuzz_wellformed():
    """Hypothesis fuzz over the well-formed grammar the regex scanner
    guarantees parity on (see the html_extract docstring for the scope)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    frag = st.one_of(
        st.sampled_from(
            [
                "plain text fragment with several words in it",
                "short", "&amp;", "&#65;", "&lt;tag&gt;", "  spaced   out  ",
                "<p>", "</p>", "<div>", "</div>", "<nav>", "</nav>",
                "<a href='/'>", "</a>", "<br>", "<br/>", "<h1>", "</h1>",
                "<li>", "</li>", "<script>var x='<p>';</script>",
                "<style>p{}</style>", "<!-- comment -->", "<!DOCTYPE html>",
                "<template>", "</template>", "<P>", "</P>", "<aside>",
                "</aside>", "<footer>", "</footer>", "</;bogus>", "<?pi?>",
            ]
        ),
        st.text(alphabet="abc x;/!", min_size=0, max_size=12),
    )

    @settings(max_examples=800, deadline=None)
    @given(st.lists(frag, min_size=0, max_size=25))
    def fuzz(parts):
        payload = "".join(parts).encode("utf-8")
        fast, ref = both(payload)
        assert fast == ref

    fuzz()


@pytest.mark.parametrize(
    "payload",
    [
        b"<p>Entities &amp; charrefs &#65;&#x42; stay identical in both paths.</p>",
        b"<!-- comment --><p>Comments are invisible to both parser paths.</p>",
        b"<script>var x = '<p>not a block</p>';</script><p>Raw-text script content skipped.</p>",
        b"<style>p:before{content:'<fake>'}</style><p>Style content is raw text too.</p>",
        b"<P>UPPERCASE TAGS are normalized the same way by both parsers.</P>",
        b"<p>unclosed paragraph blocks still flush at document end properly",
        b"<div><p>nested <a href='/'>links</a> accumulate anchor text equally.</p></div>",
        b"<p>breaks<br>become<br/>spaces in both implementations of the parser.</p>",
        b"<nav><p>dropped subtree content never reaches the block stream.</p></nav><p>After nav content is visible again to both.</p>",
        b"<template><nav></template><p>template parses normally (not raw text) in both.</p>",
        b"<p>stray < bracket stays literal text in both implementations.</p>",
        b"<td>table cells are blocks with the same scoring rules applied.</td>",
        "<p>Unicode café نص عربي text flows through identically.</p>".encode(),
    ],
)
def test_parity_on_adversarial_markup(payload):
    fast, ref = both(payload)
    assert fast == ref


def test_link_collection_parity_and_semantics():
    """<a href> collection (round 7): both parsers report the same hrefs
    in document order, including anchors inside dropped chrome (a crawler
    follows nav links even though the TEXT strips them), attribute quote
    styles, charref values, and self-closing anchors."""
    cases = [
        (b"<p><a href='/x'>y</a> and <a href=\"/z\">w</a></p>", ["/x", "/z"]),
        (b'<p><a href="/q?a=1&amp;b=2">y</a></p>', ["/q?a=1&b=2"]),
        (b"<p><a href=bare>y</a></p>", ["bare"]),
        (b"<p><a class='c' HREF='/up' id='i'>y</a></p>", ["/up"]),
        (b"<nav><a href='/nav'>n</a></nav><footer><a href='/f'>f</a></footer>", ["/nav", "/f"]),
        (b"<p><a>no href</a><a href=''>empty</a></p>", []),
        (b"<p><a href='/s'/></p>", ["/s"]),
        (b"<script>var s = \"<a href='/not-a-link'>\";</script>", []),
        (b"<p><a href='https://other.example/d/1?utm_source=x'>t</a></p>",
         ["https://other.example/d/1?utm_source=x"]),
    ]
    for payload, want in cases:
        (_, _, fl), (_, _, rl) = both(payload)
        assert fl == rl == want, (payload, fl, rl, want)


def test_link_collection_parity_on_corpus():
    rows = generate_corpus(n=200, seed=7, richness=2)
    for r in rows:
        if r.extension != "html":
            continue
        (_, _, fl), (_, _, rl) = both(r.html)
        assert fl == rl
        assert fl, r.url  # every corpus HTML page carries nav/share links
