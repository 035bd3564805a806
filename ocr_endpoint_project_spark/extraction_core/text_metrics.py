"""Text-similarity metrics with the reference's exact semantics.

Re-implements (from observed behavior, not copied code) the metric
library at ``ocr_common.py:111-201``:

* ``normalize_words``  — ``ocr_common.py:111-115``
* ``edit_distance``    — ``ocr_common.py:118-133`` (here: Myers bit-parallel)
* ``cer`` / ``wer``    — ``ocr_common.py:136-149``
* ``layout_accuracy``  — ``ocr_common.py:152-170``
* ``word_metrics``     — ``ocr_common.py:173-201``

These run inside Arrow-batch pandas UDFs on executors; CER's character
path is additionally available as a pure-Catalyst expression (built-in
``levenshtein``) in ``functions/text.py`` — the Python version here exists
for parity tests and for the token-level WER path Spark has no builtin for.
"""

from __future__ import annotations

import re

_NORM_RE = re.compile(r"[^\w\s]")


def normalize_words(text: str | None) -> list[str]:
    """Lowercase, strip punctuation to spaces, split (ocr_common.py:111-115)."""
    if not (text and text.strip()):
        return []
    clean = _NORM_RE.sub(" ", text.lower())
    return [w for w in clean.split() if w]


def edit_distance(ref: list | str, hyp: list | str) -> int:
    """Levenshtein distance over tokens or chars (ocr_common.py:118-133).

    Myers/Hyyrö bit-parallel algorithm (Myers 1999, Hyyrö 2001): the DP
    column is a pair of bit-vectors carried in arbitrary-precision ints,
    one big-int step per reference symbol — O(R * H/64) word ops instead
    of the numpy two-row DP's O(R) vectorized rows (~3x on the corpus'
    ~350-char documents; the DP is kept as the parity reference in
    tests/test_text_metrics.py).
    """
    r_len, h_len = len(ref), len(hyp)
    if r_len == 0:
        return h_len
    if h_len == 0:
        return r_len
    # bit-parallel over the HYP as the pattern; symbols (chars or token
    # strings) key the Peq masks directly
    peq: dict = {}
    bit = 1
    for c in hyp:
        peq[c] = peq.get(c, 0) | bit
        bit <<= 1
    full = bit - 1          # h_len ones
    high = bit >> 1         # top bit (position h_len - 1)
    pv = full
    mv = 0
    score = h_len
    get = peq.get
    for c in ref:
        eq = get(c, 0)
        xv = eq | mv
        xh = (((eq & pv) + pv) ^ pv) | eq
        ph = mv | (full & ~(xh | pv))
        mh = pv & xh
        if ph & high:
            score += 1
        elif mh & high:
            score -= 1
        ph = ((ph << 1) | 1) & full
        pv = (mh << 1) | (full & ~(xv | ph))
        mv = ph & xv
    return score


def cer(ground_truth: str | None, predicted: str | None) -> float:
    """Character error rate %, 0.0 on empty reference (ocr_common.py:136-141)."""
    ref = (ground_truth or "").strip()
    if not ref:
        return 0.0
    hyp = (predicted or "").strip()
    return (edit_distance(ref, hyp) / len(ref)) * 100.0


def wer(ground_truth: str | None, predicted: str | None) -> float:
    """Word error rate %, 0.0 on empty reference (ocr_common.py:144-149)."""
    ref_words = normalize_words(ground_truth)
    if not ref_words:
        return 0.0
    hyp_words = normalize_words(predicted)
    return (edit_distance(ref_words, hyp_words) / len(ref_words)) * 100.0


def section_headers(ground_truth: str | None) -> list[str]:
    """Heuristic section-header lines from golden text (ocr_common.py:152-166).

    Keep lines that are <= 60 chars, contain no '--'/'—', have >= 2 letters
    and >= 40% letters, and are ALL-CAPS or Capitalized without a trailing
    ','/'.'. Order-preserving dedup, capped at 30.
    """
    headers: list[str] = []
    for raw in (ground_truth or "").splitlines():
        ln = raw.strip()
        if not ln or len(ln) > 60:
            continue
        if "--" in ln or "—" in ln:
            continue
        letters = sum(1 for c in ln if c.isalpha())
        if letters < 2 or letters / max(len(ln), 1) < 0.4:
            continue
        rstripped = ln.rstrip()
        if ln.isupper() or (
            ln[0].isupper() and not rstripped.endswith(",") and not rstripped.endswith(".")
        ):
            headers.append(ln)
    return list(dict.fromkeys(headers))[:30]


def layout_accuracy(ground_truth: str | None, predicted: str | None) -> float:
    """% of golden section headers found (case-insensitive substring) in the
    prediction; 100.0 when no headers (ocr_common.py:152-170)."""
    headers = section_headers(ground_truth)
    if not headers:
        return 100.0
    pred_lower = (predicted or "").lower()
    found = sum(1 for h in headers if h.lower() in pred_lower)
    return (found / len(headers)) * 100.0


def word_metrics(ground_truth_text: str | None, predicted_text: str | None) -> dict:
    """Full per-document metric struct (ocr_common.py:173-201)."""
    gt_words = normalize_words(ground_truth_text)
    pred_words = normalize_words(predicted_text)
    if not gt_words:
        return {
            "accuracy_pct": 100.0,
            "total_gt_words": 0,
            "found": 0,
            "missing_words": [],
            "extra_words": list(dict.fromkeys(pred_words)),
            "cer_pct": 0.0,
            "wer_pct": 0.0,
            "layout_accuracy_pct": 100.0,
        }
    pred_set = set(pred_words)
    gt_set = set(gt_words)
    found = sum(1 for w in gt_words if w in pred_set)
    return {
        "accuracy_pct": (found / len(gt_words)) * 100.0,
        "total_gt_words": len(gt_words),
        "found": found,
        "missing_words": list(dict.fromkeys(w for w in gt_words if w not in pred_set)),
        "extra_words": list(dict.fromkeys(w for w in pred_words if w not in gt_set)),
        "cer_pct": cer(ground_truth_text, predicted_text),
        "wer_pct": wer(ground_truth_text, predicted_text),
        "layout_accuracy_pct": layout_accuracy(ground_truth_text, predicted_text),
    }
