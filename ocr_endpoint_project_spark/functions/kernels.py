"""The vectorized Arrow kernels (SURVEY.md §2.8) — the ONLY Python that
runs in the hot path. Everything else stays in Catalyst/codegen.

Four kernels per the input_hint ("vectorized pandas/Arrow UDFs, no
per-row Python"):

1. ``extract_batch``      — iterator ``mapInPandas``: (url, html, …) ->
   extraction struct. Replaces the reference's remote OCR stage
   (``cv_api/pipeline.py:130-151``) with local deterministic kernels.
2. ``word_metrics_udf``   — struct pandas UDF: WER/layout/word metrics
   (``ocr_common.py:144-201``; CER's char path is pure Catalyst, see
   ``functions/text.py``).
3. ``json_recover_udf``   — tolerant-JSON pre-pass feeding ``from_json``
   (``cv_api/resume_schema.py:134-184``).
4. ``leaf_accuracy_udf``  — nested-JSON leaf accuracy
   (``pages/llm_parsing_benchmark.py:317-350``).

Plus ``section_record_udf`` (deterministic replacement of the LLM parse
stage, ``cv_api/pipeline.py:162-229``).

Memory discipline: the session caps Arrow batches at 64 rows
(``session.py``), so ``rows x max_doc_bytes`` is bounded; the iterator
form never materializes a whole partition.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark import TaskContext
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

from ..extraction_core.document import extract_document
from ..extraction_core.json_recover import leaf_accuracy, recover_json_str
from ..extraction_core.sections import section_record_json
from ..extraction_core.text_metrics import word_metrics
from ..schemas import WORD_METRICS_STRUCT


# ---------------------------------------------------------------------------
# 1. extraction kernel (mapInPandas iterator)
# ---------------------------------------------------------------------------

def extract_batch(iterator: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: (url, warc_ts, lang, html) -> EXTRACTED_SCHEMA rows.

    Iterator form: one bounded Arrow batch in, one out — a 10 MB-doc batch
    of 64 rows peaks well under 1 GB per task. Errors are rows, never
    exceptions (error taxonomy from cv_api/pipeline.py preserved).
    """
    ctx = TaskContext.get()
    task_pid = ctx.partitionId() if ctx is not None else -1
    for batch in iterator:
        n = len(batch)
        # logical partition_id (pmod(xxhash64(url), P), data-derived and
        # stable across runs — the lineage/resume key) is passed through;
        # fall back to the physical task partition when absent
        pid = batch["partition_id"] if "partition_id" in batch else task_pid
        out = {
            "url": batch["url"],
            "warc_ts": batch["warc_ts"] if "warc_ts" in batch else pd.Series([None] * n),
            "lang": batch["lang"] if "lang" in batch else pd.Series([None] * n),
            "extracted_text": [],
            "span_starts": [],
            "span_ends": [],
            "span_kinds": [],
            "n_pages": [],
            "n_chars": [],
            "doc_kind": [],
            "status": [],
            "error": [],
            "elapsed_ms": [],
            "doc_bytes": [],
            "out_links": [],
        }
        for payload in batch["html"]:
            raw = bytes(payload) if payload is not None else None
            res = extract_document(raw)
            out["extracted_text"].append(res.extracted_text)
            out["span_starts"].append([s for s, _, _ in res.spans])
            out["span_ends"].append([e for _, e, _ in res.spans])
            out["span_kinds"].append([k for _, _, k in res.spans])
            out["n_pages"].append(res.n_pages)
            out["n_chars"].append(len(res.extracted_text))
            out["doc_kind"].append(res.doc_kind)
            out["status"].append(res.status)
            out["error"].append(res.error)
            out["elapsed_ms"].append(res.elapsed_ms)
            out["doc_bytes"].append(len(raw) if raw is not None else 0)
            out["out_links"].append(res.out_links)
        frame = pd.DataFrame(out)
        frame["partition_id"] = pid
        yield frame


# ---------------------------------------------------------------------------
# 2. word/WER/layout metrics kernel (struct pandas UDF)
# ---------------------------------------------------------------------------

@pandas_udf(WORD_METRICS_STRUCT)
def word_metrics_udf(gt: pd.Series, pred: pd.Series) -> pd.DataFrame:
    """Vectorized word_metrics struct (ocr_common.py:173-201 semantics)."""
    rows = [word_metrics(g, p) for g, p in zip(gt, pred)]
    return pd.DataFrame(rows)


@pandas_udf(T.DoubleType())
def token_wer_udf(gt: pd.Series, pred: pd.Series) -> pd.Series:
    """Token-level WER alone (ocr_common.py:144-149) — Spark has a builtin
    char levenshtein but nothing token-level."""
    from ..extraction_core.text_metrics import wer

    return pd.Series([wer(g, p) for g, p in zip(gt, pred)], dtype="float64")


# ---------------------------------------------------------------------------
# 3. tolerant-JSON recovery pre-pass (str -> canonical JSON str | null)
# ---------------------------------------------------------------------------

@pandas_udf(T.StringType())
def json_recover_udf(raw: pd.Series) -> pd.Series:
    return raw.map(recover_json_str)


# ---------------------------------------------------------------------------
# 4. nested-JSON leaf accuracy (json_str, json_str -> double)
# ---------------------------------------------------------------------------

@pandas_udf(T.DoubleType())
def leaf_accuracy_udf(pred_json: pd.Series, gt_json: pd.Series) -> pd.Series:
    import json

    def _acc(p, g):
        try:
            pred = json.loads(p) if p else None
            gt = json.loads(g) if g else None
        except ValueError:
            return 0.0
        return leaf_accuracy(pred, gt)

    return pd.Series([_acc(p, g) for p, g in zip(pred_json, gt_json)], dtype="float64")


# ---------------------------------------------------------------------------
# structured-parse stage (E9 replacement): text -> record JSON for from_json
# ---------------------------------------------------------------------------

@pandas_udf(T.StringType())
def section_record_udf(text: pd.Series) -> pd.Series:
    return text.map(section_record_json)


def parse_sections(df, text_col: str = "extracted_text", out_col: str = "record"):
    """Full structured-parse stage: segment -> from_json(RESUME_STRUCT).

    ``from_json`` drops unknown keys natively — the reference's
    ``_strip_extra_keys_to_schema`` (cv_api/resume_schema.py:187-198).
    """
    from ..schemas import RESUME_STRUCT

    return df.withColumn(out_col, F.from_json(section_record_udf(F.col(text_col)), RESUME_STRUCT))
