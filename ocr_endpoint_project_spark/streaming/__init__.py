"""Structured Streaming surface: incremental extraction over arriving
page files (the reference's async-job semantics, O3/O4, as a stream)."""

from .dedupe_stream import signature_frame, stream_dedupe, stream_dedupe_icetable
from .incremental import stream_extract
from .stateful import latest_lang_totals, stream_lang_totals
from .windowed import stream_windowed_counts

__all__ = [
    "signature_frame",
    "stream_dedupe",
    "stream_dedupe_icetable",
    "stream_extract",
    "stream_lang_totals",
    "latest_lang_totals",
    "stream_windowed_counts",
]
