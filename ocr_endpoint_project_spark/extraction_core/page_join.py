"""The page-join contract every extractor ends with.

The reference joins OCR page parts with ``"\\n\\n"`` and strips the
result (``ocr_common.py:341-344``). HTML blocks, PDF pages and scan
pages all go through :func:`join_parts`, so the three document kinds
cannot drift apart on separators, empty-part handling or span offsets.
"""

from __future__ import annotations

from collections.abc import Iterable


def join_parts(
    parts: Iterable[tuple[str, str]],
) -> tuple[str, list[tuple[int, int, str]]]:
    """Join ``(label, text)`` parts into ``(text, spans)``.

    Each part is stripped and empty parts are skipped; kept parts are
    joined with ``"\\n\\n"``. ``spans`` holds one ``(start, end, label)``
    character range per kept part inside the joined text.
    """
    kept: list[str] = []
    spans: list[tuple[int, int, str]] = []
    pos = 0
    for label, text in parts:
        t = text.strip()
        if not t:
            continue
        if kept:
            pos += 2  # the "\n\n" separator
        spans.append((pos, pos + len(t), label))
        pos += len(t)
        kept.append(t)
    return "\n\n".join(kept).strip(), spans


def page_parts(pages: list[str]) -> Iterable[tuple[str, str]]:
    """Label page texts ``page_1``, ``page_2``, … for :func:`join_parts`."""
    return ((f"page_{i}", t) for i, t in enumerate(pages, 1))
