"""Kernel-exercising operators, still oracle-checked: these run the real
Arrow kernels (extraction, structured parse, JSON recovery, metrics) over
pages synthesized IN CATALYST from the driver's ``documents`` table, with
DuckDB oracles that predict the kernels' output from the construction.

This is the end-to-end correctness gate for the extraction engine itself
(not just the relational layer): if the HTML extractor, the sections
segmenter or the JSON recovery drift by one byte, these hash-mismatch.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.kernels import (
    json_recover_udf,
    leaf_accuracy_udf,
    parse_sections,
    section_record_udf,
    token_wer_udf,
    word_metrics_udf,
)
from ._io import read_spread, scratch_dir
from ..functions.text import SQL_CER, SQL_NORM_TOKENS, r4, sql_r4
from ..pipeline.extract import run_extraction
from ..sources.pages import pages_from_documents


def _docs(spark, sf_dir):
    return read_spread(spark, f"{sf_dir}/documents.parquet")


# ---------------------------------------------------------------------------
# flagship: full pipeline round-trip — byte identity per url
# ---------------------------------------------------------------------------

def q_extract_roundtrip(spark, sf_dir):
    pages = pages_from_documents(spark, sf_dir)
    extracted = run_extraction(pages, num_partitions=16)
    golden = pages.select("url", F.col("text").alias("golden_text"))
    return extracted.join(golden, "url").select(
        "url",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.col("n_pages").cast("bigint").alias("n_pages"),
        "doc_kind",
        "status",
        (F.col("extracted_text") == F.col("golden_text")).alias("byte_identical"),
    )


SQL_EXTRACT_ROUNDTRIP = """
SELECT 'https://' || source || '.example/doc/' || doc_id AS url,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(1 AS BIGINT) AS n_pages,
       'html' AS doc_kind,
       'succeeded' AS status,
       TRUE AS byte_identical
FROM documents
"""


# ---------------------------------------------------------------------------
# structured parse (E9 segmenter + from_json): resume-grammar text built
# in Catalyst; the oracle predicts the parsed record fields exactly
# ---------------------------------------------------------------------------

def q_sections_parse(spark, sf_dir):
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit("NAME: Doc "),
            F.col("doc_id"),
            F.lit("\nLOCATION: "),
            F.col("source"),
            F.lit("\nABOUT\n"),
            F.col("text"),
        ).alias("resume_text"),
    )
    parsed = parse_sections(docs, text_col="resume_text", out_col="record")
    return parsed.select(
        "doc_id",
        F.col("record.name").alias("name"),
        F.col("record.location").alias("location"),
        F.col("record.about").alias("about"),
        F.col("record").isNotNull().alias("json_valid"),
    )


SQL_SECTIONS_PARSE = """
SELECT doc_id, 'Doc ' || doc_id AS name, source AS location, text AS about,
       TRUE AS json_valid
FROM documents
"""


# ---------------------------------------------------------------------------
# tolerant JSON recovery (E10) + from_json projection (E11): fenced JSON
# embedded in prose, recovered and parsed; oracle predicts the fields
# ---------------------------------------------------------------------------

def q_json_recovery(spark, sf_dir):
    raw = F.concat(
        F.lit('Model output follows.\n```json\n{"id": '),
        F.col("doc_id"),
        F.lit(', "doc_lang": "'),
        F.col("lang"),
        F.lit('", "extra_unknown_key": 1}\n```\nthanks'),
    )
    schema = "id BIGINT, doc_lang STRING"
    return (
        _docs(spark, sf_dir)
        .select("doc_id", json_recover_udf(raw).alias("recovered"))
        .select(
            "doc_id",
            F.from_json("recovered", schema).alias("rec"),
        )
        .select(
            "doc_id",
            F.col("rec.id").alias("id"),
            F.col("rec.doc_lang").alias("doc_lang"),
            F.col("rec").isNotNull().alias("recovered_ok"),
        )
    )


SQL_JSON_RECOVERY = """
SELECT doc_id, doc_id AS id, lang AS doc_lang, TRUE AS recovered_ok
FROM documents
"""


# ---------------------------------------------------------------------------
# WER / word-metrics kernel (M4/M6) with an exact DuckDB oracle via the
# token->codepoint trick: map each distinct token to a single ASCII char
# (per-doc vocab is <=~70 << 94 printable codes; DuckDB's levenshtein is
# BYTE-based, so codes must stay single-byte) and run the built-in
# levenshtein on the mapped strings = token-level edit distance.
# Python-vs-Python parity is additionally covered in tests/test_text_metrics.py.
# ---------------------------------------------------------------------------

def q_word_metrics_kernel(spark, sf_dir):
    pred = F.regexp_replace(F.col("text"), "batch", "match")
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.col("text").alias("gt"), pred.alias("pred")
    )
    m = docs.select(
        "doc_id", word_metrics_udf(F.col("gt"), F.col("pred")).alias("m")
    )
    return m.select(
        "doc_id",
        r4(F.col("m.accuracy_pct")).alias("accuracy_pct"),
        F.col("m.total_gt_words").cast("bigint").alias("total_gt_words"),
        r4(F.col("m.wer_pct")).alias("wer_pct"),
        r4(F.col("m.cer_pct")).alias("cer_pct"),
        F.size("m.missing_words").cast("bigint").alias("n_missing"),
    )


def q_token_wer(spark, sf_dir):
    pred = F.regexp_replace(F.col("text"), "batch", "match")
    return _docs(spark, sf_dir).select(
        "doc_id", r4(token_wer_udf(F.col("text"), pred)).alias("wer_pct")
    )


# ---------------------------------------------------------------------------
# O8 cost accounting: per-(kind,status) wall-clock-free cost rollup.
# cost_usd = n_pages * $0.002 (ocr_common.py:345-346), emitted as a
# Catalyst column by run_extraction; the rollup multiplies the EXACT
# integer page sum once, so both engines produce the identical double.
# ---------------------------------------------------------------------------

def q_extract_cost_summary(spark, sf_dir):
    pages = pages_from_documents(spark, sf_dir)
    extracted = run_extraction(pages, num_partitions=16)
    return extracted.groupBy("doc_kind", "status").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_pages").alias("total_pages"),
        (F.sum("n_pages") * F.lit(0.002)).alias("total_cost_usd"),
    )


SQL_EXTRACT_COST = """
SELECT 'html' AS doc_kind, 'succeeded' AS status,
       count(*) AS n_docs, count(*) AS total_pages,
       count(*) * CAST(0.002 AS DOUBLE) AS total_cost_usd
FROM documents
"""


# ---------------------------------------------------------------------------
# URL analytics (web-scale primitive): host / scheme / path-depth via
# Spark's built-in parse_url over the synthesized pages urls; the oracle
# predicts every value from the url construction rule
# (``https://{source}.example/doc/{doc_id}``), so this validates that the
# real URL parser agrees with the generator byte-for-byte.
# ---------------------------------------------------------------------------

def q_web_host_rollup(spark, sf_dir):
    pages = pages_from_documents(spark, sf_dir).select("url")
    host = F.parse_url(F.col("url"), F.lit("HOST"))
    scheme = F.regexp_extract("url", r"^(\w+)://", 1)
    # "/doc/123" -> depth 2 (split yields ['', 'doc', '123'])
    depth = F.size(F.split(F.parse_url(F.col("url"), F.lit("PATH")), "/")) - 1
    return (
        pages.select(host.alias("host"), scheme.alias("scheme"), depth.alias("path_depth"))
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("scheme") == "https", 1).otherwise(0))
            .cast("bigint")
            .alias("n_https"),
            F.max("path_depth").cast("bigint").alias("max_path_depth"),
        )
    )


SQL_WEB_HOST_ROLLUP = """
SELECT source || '.example' AS host,
       count(*) AS n_docs,
       count(*) AS n_https,
       CAST(2 AS BIGINT) AS max_path_depth
FROM documents GROUP BY source
"""


# ---------------------------------------------------------------------------
# glyph OCR round-trip (E2 optical path): each document's text snippet is
# RENDERED as a 5x7-bitmap-font raster, noised (1-3 flipped pixels per
# glyph, deterministic from doc_id), compressed through the real PNG
# scanline codec, decoded, and RECOGNIZED by nearest-template Hamming
# match (extraction_core/png_glyphs.py — font min distance 7 over the
# 242-char ASCII+Latin-1+Arabic set, so <= 3 flips always correct). The
# oracle predicts exact recovery for every row: genuine noisy-scan
# recognition, checkable end-to-end. Chars outside the font charset are
# substituted with '?' BEFORE rendering (1:1, so lengths match the SQL
# twin) — a future corpus change degrades a row, never kills the query.
# ---------------------------------------------------------------------------

OCR_SNIPPET_CHARS = 64
# complement of png_glyphs.CHARSET (+ newline, which render_text handles)
_GLYPH_SANITIZE_RE = r"[^\x20-\x7e\n\xa1-\xffء-ي٠-٩]"


def _glyph_ocr_batch(it):
    import re

    import numpy as np
    import pandas as pd

    sanitize = re.compile(_GLYPH_SANITIZE_RE)

    from ..extraction_core.png_glyphs import (
        GLYPH_H,
        GLYPH_W,
        CELL_W,
        encode_png_gray,
        ocr_glyph_png,
        render_text,
    )

    for batch in it:
        out = {"doc_id": [], "n_chars_rendered": [], "noise_flips_per_glyph": [],
               "ocr_exact": []}
        for did, text in zip(batch["doc_id"], batch["text"]):
            snippet = sanitize.sub("?", str(text)[:OCR_SNIPPET_CHARS]).rstrip()
            arr = render_text(snippet, cols=OCR_SNIPPET_CHARS).copy()
            k = 1 + int(did) % 3
            rng = np.random.RandomState(int(did) % (2**31))
            for c in range(len(snippet)):
                for _ in range(k):
                    y, x = rng.randint(0, GLYPH_H), rng.randint(0, GLYPH_W)
                    arr[y, c * CELL_W + x] = 255 - arr[y, c * CELL_W + x]
            got = ocr_glyph_png(encode_png_gray(arr))
            out["doc_id"].append(int(did))
            out["n_chars_rendered"].append(len(snippet))
            out["noise_flips_per_glyph"].append(k)
            out["ocr_exact"].append(got == snippet)
        yield pd.DataFrame(out)


def q_ocr_glyph_roundtrip(spark, sf_dir):
    docs = _docs(spark, sf_dir).select("doc_id", "text").repartition(16)
    return docs.mapInPandas(
        _glyph_ocr_batch,
        "doc_id long, n_chars_rendered long, noise_flips_per_glyph long, ocr_exact boolean",
    )


SQL_OCR_GLYPH = f"""
SELECT doc_id,
       CAST(length(rtrim(substr(text, 1, {OCR_SNIPPET_CHARS}))) AS BIGINT) AS n_chars_rendered,
       CAST(1 + doc_id % 3 AS BIGINT) AS noise_flips_per_glyph,
       TRUE AS ocr_exact
FROM documents
"""


def _jpeg_ocr_batch(it):
    """Per doc: render a snippet, flip k noise pixels per glyph, carry
    the raster through the LOSSY baseline-JPEG codec (jpeg_pixels DCT +
    Huffman), re-binarize, template-match OCR. ``rebinarize_exact``
    asserts the Q_SCAN worst-case error bound (q/2 * 12.91 < 128) held
    pixel-for-pixel; ``ocr_exact`` asserts the noise flips were then
    corrected by nearest-template Hamming match — the whole jpg/jpeg
    upload path of the reference (cv_api/main.py:38-40,
    ocr_common.py:233-249) as one distributed kernel."""
    import re

    import numpy as np
    import pandas as pd

    sanitize = re.compile(_GLYPH_SANITIZE_RE)

    from ..extraction_core.jpeg_pixels import decode_jpeg_gray, encode_jpeg_gray
    from ..extraction_core.png_glyphs import (
        GLYPH_H,
        GLYPH_W,
        CELL_W,
        ocr_text,
        render_text,
    )

    for batch in it:
        out = {"doc_id": [], "n_chars_rendered": [], "noise_flips_per_glyph": [],
               "rebinarize_exact": [], "ocr_exact": []}
        for did, text in zip(batch["doc_id"], batch["text"]):
            snippet = sanitize.sub("?", str(text)[:OCR_SNIPPET_CHARS]).rstrip()
            arr = render_text(snippet, cols=OCR_SNIPPET_CHARS).copy()
            k = 1 + int(did) % 3
            rng = np.random.RandomState(int(did) % (2**31))
            for c in range(len(snippet)):
                for _ in range(k):
                    y, x = rng.randint(0, GLYPH_H), rng.randint(0, GLYPH_W)
                    arr[y, c * CELL_W + x] = 255 - arr[y, c * CELL_W + x]
            dec = decode_jpeg_gray(encode_jpeg_gray(arr))
            bilevel = np.where(dec > 127, np.uint8(255), np.uint8(0))
            out["doc_id"].append(int(did))
            out["n_chars_rendered"].append(len(snippet))
            out["noise_flips_per_glyph"].append(k)
            out["rebinarize_exact"].append(bool(np.array_equal(bilevel, arr)))
            out["ocr_exact"].append(ocr_text(bilevel) == snippet)
        yield pd.DataFrame(out)


def q_ocr_jpeg_roundtrip(spark, sf_dir):
    docs = _docs(spark, sf_dir).select("doc_id", "text").repartition(16)
    return docs.mapInPandas(
        _jpeg_ocr_batch,
        "doc_id long, n_chars_rendered long, noise_flips_per_glyph long, "
        "rebinarize_exact boolean, ocr_exact boolean",
    )


SQL_OCR_JPEG = f"""
SELECT doc_id,
       CAST(length(rtrim(substr(text, 1, {OCR_SNIPPET_CHARS}))) AS BIGINT) AS n_chars_rendered,
       CAST(1 + doc_id % 3 AS BIGINT) AS noise_flips_per_glyph,
       TRUE AS rebinarize_exact,
       TRUE AS ocr_exact
FROM documents
"""


# ---------------------------------------------------------------------------
# URL canonicalization: the normalize-before-dedup step every crawler
# pipeline runs (fragments dropped, default ports stripped, scheme/host
# lowercased, tracking params removed, trailing slash normalized).
# Messy variants are constructed deterministically from (doc_id, source)
# in Catalyst — the repo's kernel-query pattern — so the oracle predicts
# the canonical form AND the dedup consequence (variants of one page
# canonicalize to one url) byte-for-byte. Pure regexp_replace chains,
# RE2-compatible in both engines.
# ---------------------------------------------------------------------------


def canonicalize_url(col):
    """Catalyst expression: canonical form of a URL column.

    Tracking-param removal is separator-correct (round-5 fix): a
    non-leading ``&utm_x=v`` drops with its '&'; a leading ``?utm_x=v&``
    promotes the next param to '?'; a sole ``?utm_x=v`` drops with the
    '?' — so ``a?utm_source=x&page=2`` canonicalizes to ``a?page=2``,
    never the malformed ``a&page=2``."""
    u = F.col(col) if isinstance(col, str) else col
    u = F.regexp_replace(u, r"#.*$", "")                      # fragment
    u = F.regexp_replace(u, r"&(utm_[a-z]+|ref)=[^&#]*", "")  # non-leading tracking
    u = F.regexp_replace(u, r"\?(utm_[a-z]+|ref)=[^&#]*&", "?")  # leading, has follower
    u = F.regexp_replace(u, r"\?(utm_[a-z]+|ref)=[^&#]*$", "")   # sole tracking param
    u = F.regexp_replace(u, r"(?i)^(https?)://([^/]*):(443|80)(/|$)", r"$1://$2$4")
    # lowercase scheme+host only (path stays case-sensitive); (?i) so an
    # uppercase scheme is still recognized as a URL head (round-5 fix)
    head = F.lower(F.regexp_extract(u, r"(?i)^(https?://[^/]*)", 1))
    tail = F.regexp_replace(u, r"(?i)^https?://[^/]*", "")
    u = F.concat(head, tail)
    # trailing slash (capture form: RE2 in DuckDB has no lookbehind)
    return F.regexp_replace(u, r"([^/])/$", r"$1")


def q_url_canonicalize(spark, sf_dir):
    mod = F.pmod(F.col("doc_id"), F.lit(4))
    messy = (
        F.when(mod == 0, F.concat(F.lit("HTTPS://"), F.upper("source"),
                                  F.lit(".Example/doc/"), F.col("doc_id"), F.lit("#frag")))
        .when(mod == 1, F.concat(F.lit("https://"), F.col("source"),
                                 F.lit(".example:443/doc/"), F.col("doc_id"),
                                 F.lit("?utm_source=feed&page=2")))
        .when(mod == 2, F.concat(F.lit("https://"), F.col("source"),
                                 F.lit(".example/doc/"), F.col("doc_id"), F.lit("/")))
        .otherwise(F.concat(F.lit("https://"), F.col("source"),
                            F.lit(".example/doc/"), F.col("doc_id")))
    )
    docs = _docs(spark, sf_dir).select("doc_id", messy.alias("url"))
    return docs.select(
        "doc_id",
        "url",
        canonicalize_url(F.col("url")).alias("canonical_url"),
        (canonicalize_url(F.col("url")) != F.col("url")).alias("was_messy"),
    )


SQL_URL_CANONICALIZE = r"""
WITH messy AS (
  SELECT doc_id,
         CASE doc_id % 4
           WHEN 0 THEN 'HTTPS://' || upper(source) || '.Example/doc/' || doc_id || '#frag'
           WHEN 1 THEN 'https://' || source || '.example:443/doc/' || doc_id || '?utm_source=feed&page=2'
           WHEN 2 THEN 'https://' || source || '.example/doc/' || doc_id || '/'
           ELSE 'https://' || source || '.example/doc/' || doc_id
         END AS url
  FROM documents
), canon AS (
  SELECT doc_id, url,
    regexp_replace(
      lower(regexp_extract(u4, '(?i)^(https?://[^/]*)', 1))
        || regexp_replace(u4, '(?i)^https?://[^/]*', ''),
      '([^/])/$', '\1') AS canonical_url
  FROM (
    SELECT doc_id, url,
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(url, '#.*$', ''),
              '&(utm_[a-z]+|ref)=[^&#]*', '', 'g'),
            '\?(utm_[a-z]+|ref)=[^&#]*&', '?'),
          '\?(utm_[a-z]+|ref)=[^&#]*$', ''),
        '(?i)^(https?)://([^/]*):(443|80)(/|$)', '\1://\2\4') AS u4
    FROM messy
  )
)
SELECT doc_id, url, canonical_url, canonical_url != url AS was_messy FROM canon
"""


# ---------------------------------------------------------------------------
# S5 quarantine + error taxonomy as a query: the reference's upload
# validation errors are a first-class API surface
# (docs/API_CONTRACT_V1.md:143-152, cv_api/main.py:38-40,322-348) — here
# the same taxonomy is a queryable rollup over a corpus with
# deterministically injected invalid rows (doc_id % 10 selects the
# failure class), so the oracle predicts every count from the
# construction rule.
# ---------------------------------------------------------------------------

_TAXONOMY_MAX_BYTES = 4096  # valid pages are < ~1.1 KB; oversized rows exceed this


def q_extract_error_taxonomy(spark, sf_dir):
    """(status, error_code, n_docs) over a corpus where doc_id % 10
    injects: 4 -> null url, 0/1 -> null/empty payload, 2 -> unsniffable
    payload, 3 -> oversized payload, 5 -> PROGRESSIVE JPEG (passes
    ingest — it IS a JPEG — and fails in the kernel with the dedicated
    JPEG_PROGRESSIVE_UNSUPPORTED code, r7); the rest are well-formed
    pages that run the REAL extraction kernel (their 'succeeded' is
    computed, not assumed — the same construction extract_roundtrip
    proves byte-identical)."""
    from ..pipeline.ingest import validate_pages
    from ..sources.corpus import PROGRESSIVE_JPEG_STUB
    from ..sources.pages import _POST, _PRE

    docs = _docs(spark, sf_dir)
    mod = F.pmod(F.col("doc_id"), F.lit(10))
    pages = docs.select(
        F.when(mod == 4, F.lit(None).cast("string"))
        .otherwise(
            F.concat(
                F.lit("https://"), F.col("source"), F.lit(".example/doc/"), F.col("doc_id")
            )
        )
        .alias("url"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(secs=F.col("doc_id"))
        ).alias("warc_ts"),
        F.when(mod == 0, F.lit(None).cast("binary"))
        .when(mod == 1, F.lit("").cast("binary"))
        .when(mod == 2, F.lit("PLAINTEXT PAYLOAD WITHOUT ANY MARKUP").cast("binary"))
        .when(
            mod == 3,
            F.concat(
                F.lit("<p>"), F.repeat(F.lit("x"), _TAXONOMY_MAX_BYTES + 1), F.lit("</p>")
            ).cast("binary"),
        )
        .when(mod == 5, F.lit(PROGRESSIVE_JPEG_STUB))
        .otherwise(F.concat(F.lit(_PRE), F.col("text"), F.lit(_POST)).cast("binary"))
        .alias("html"),
        "lang",
    )
    valid, quarantined = validate_pages(pages, max_bytes=_TAXONOMY_MAX_BYTES)
    ok = (
        run_extraction(valid, num_partitions=16)
        .groupBy("status", F.coalesce(F.col("error"), F.lit("NONE")).alias("error_code"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select("status", "error_code", "n_docs")
    )
    quar = (
        quarantined.groupBy("error_code")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(F.lit("quarantined").alias("status"), "error_code", "n_docs")
    )
    return ok.unionByName(quar)


SQL_ERROR_TAXONOMY = """
WITH cls AS (
  SELECT CASE
    WHEN doc_id % 10 = 4 THEN 'NULL_URL'
    WHEN doc_id % 10 IN (0, 1) THEN 'EMPTY_FILE'
    WHEN doc_id % 10 = 2 THEN 'INVALID_FILE_TYPE'
    WHEN doc_id % 10 = 3 THEN 'FILE_TOO_LARGE'
    WHEN doc_id % 10 = 5 THEN 'JPEG_PROGRESSIVE_UNSUPPORTED'
    ELSE 'NONE' END AS error_code
  FROM documents
)
SELECT CASE WHEN error_code = 'NONE' THEN 'succeeded'
            WHEN error_code = 'JPEG_PROGRESSIVE_UNSUPPORTED' THEN 'failed'
            ELSE 'quarantined' END AS status,
       error_code,
       CAST(count(*) AS BIGINT) AS n_docs
FROM cls GROUP BY 1, 2
"""



# ---------------------------------------------------------------------------
# WARC source round-trip (round 5): each doc becomes a 2-record
# .warc.gz blob (one 200 response carrying the text, one 404 that crawl
# hygiene must skip) built and re-parsed by the REAL connector
# (sources/warc.py: record framing, per-member gzip, HTTP envelope).
# The oracle predicts every field from the construction — so the parser
# that would feed the pages table from actual Common-Crawl segments is
# itself oracle-gated.
# ---------------------------------------------------------------------------


def _warc_roundtrip_batch(it):
    from datetime import datetime, timedelta, timezone

    import pandas as pd

    from ..sources.warc import pages_rows_from_warc, parse_warc, write_warc

    epoch = datetime(2024, 1, 1, tzinfo=timezone.utc)
    for batch in it:
        out = {"doc_id": [], "n_records": [], "n_page_rows": [],
               "body_identical": [], "ts_match": []}
        for did, text in zip(batch["doc_id"], batch["text"]):
            did = int(did)
            url = f"https://warc.example/doc/{did}"
            dt = epoch + timedelta(seconds=did)
            body = str(text).encode("utf-8")
            blob = write_warc(
                [
                    (url, dt, body, "text/html"),
                    (url + "/gone", dt, b"gone", "text/html", 404),
                ],
                gzip_members=True,
            )
            rows = pages_rows_from_warc(blob)
            out["doc_id"].append(did)
            out["n_records"].append(len(parse_warc(blob)))
            out["n_page_rows"].append(len(rows))
            out["body_identical"].append(
                len(rows) == 1 and rows[0][2] == body and rows[0][0] == url
            )
            out["ts_match"].append(len(rows) == 1 and rows[0][1] == dt)
        yield pd.DataFrame(out)


def q_warc_roundtrip(spark, sf_dir):
    docs = _docs(spark, sf_dir).select("doc_id", "text").repartition(16)
    return docs.mapInPandas(
        _warc_roundtrip_batch,
        "doc_id long, n_records long, n_page_rows long, "
        "body_identical boolean, ts_match boolean",
    )


# ---------------------------------------------------------------------------
# WARC DIRECTORY round-trip (round 6): the multi-file crawl-drop shape.
# The documents table is staged as a directory of .warc.gz segment
# files (each extraction task writes its partition as one segment —
# executor-side, no driver loop), then read back through
# sources.pages.pages_from_warc_dir (binaryFile scan -> per-segment
# tolerant parse) and joined against the expected payloads. This gates
# the exact path a real Common-Crawl prefix would take.
# ---------------------------------------------------------------------------


def _warc_dir_stage(spark, sf_dir, n_segments: int = 8) -> str:
    import os

    stage = scratch_dir(spark, "warc_dir")

    def _write(it):
        from datetime import datetime, timedelta, timezone

        import pandas as pd
        from pyspark import TaskContext

        from ..sources.warc import write_warc

        epoch = datetime(2024, 1, 1, tzinfo=timezone.utc)
        recs = []
        for batch in it:
            for did, text in zip(batch["doc_id"], batch["text"]):
                did = int(did)
                recs.append(
                    (
                        f"https://warc.example/doc/{did}",
                        epoch + timedelta(seconds=did),
                        str(text).encode("utf-8"),
                        "text/html",
                    )
                )
        pid = TaskContext.get().partitionId()
        if recs:
            blob = write_warc(recs, gzip_members=True)
            with open(os.path.join(stage, f"part-{pid:05d}.warc.gz"), "wb") as f:
                f.write(blob)
        yield pd.DataFrame({"n": [len(recs)]})

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    staged = (
        docs.repartition(n_segments, F.pmod(F.col("doc_id"), F.lit(n_segments)))
        .mapInPandas(_write, "n long")
    )
    staged.agg(F.sum("n")).collect()  # action: stage completes before the read
    return stage


def q_warc_dir_roundtrip(spark, sf_dir):
    from ..sources.pages import pages_from_warc_dir

    stage = _warc_dir_stage(spark, sf_dir)
    pages = pages_from_warc_dir(spark, stage).select(
        "url",
        F.col("warc_ts").alias("got_ts"),
        F.col("html").alias("got_body"),
    )
    expected = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(F.lit("https://warc.example/doc/"), F.col("doc_id")).alias("url"),
        F.col("text").cast("binary").alias("exp_body"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(secs=F.col("doc_id"))
        ).alias("exp_ts"),
    )
    return (
        expected.join(pages, "url", "left")
        .select(
            "doc_id",
            F.col("got_body").isNotNull().alias("found"),
            (F.col("got_body") == F.col("exp_body")).alias("body_identical"),
            (
                F.unix_timestamp("got_ts") == F.unix_timestamp("exp_ts")
            ).alias("ts_match"),
        )
    )


SQL_WARC_DIR_ROUNDTRIP = """
SELECT doc_id, TRUE AS found, TRUE AS body_identical, TRUE AS ts_match
FROM documents
"""


# ---------------------------------------------------------------------------
# Structured-stage leaf accuracy (M8-M10 through the REAL parse path,
# round 6): two "parser models" as a column — the structured segmenter on
# clean resume text vs the same segmenter on a deterministically corrupted
# feed (wrong LOCATION every 3rd doc, mangled ABOUT every 5th) — each
# scored by nested-JSON leaf accuracy against the golden record
# (pages/llm_parsing_benchmark.py:317-350 semantics: flatten golden
# leaves, normalize, % matched at the same path). The corruption schedule
# makes per-doc accuracy EXACT: matches is an integer 0..3, so the oracle
# reproduces the float division bit-for-bit.
# ---------------------------------------------------------------------------


def _resume_text(name, location, about):
    return F.concat(
        F.lit("NAME: "), name,
        F.lit("\nLOCATION: "), location,
        F.lit("\nABOUT\n"), about,
    )


def q_sections_leaf_accuracy(spark, sf_dir):
    docs = _docs(spark, sf_dir).select("doc_id", "source", "text", "lang")
    name = F.concat(F.lit("Doc "), F.col("doc_id"))
    # one lowercased line: an all-caps-shaped line inside the about body
    # would legitimately open a new section (the header heuristic the
    # reference's layout_accuracy uses) and break the exact-match oracle
    # "~ " sentinel: the line must not START with a scalar key
    # ("name:" etc.) — resume-shaped document text would otherwise be
    # captured by the grammar's case-insensitive scalar-line rule
    about = F.concat(
        F.lit("~ "), F.lower(F.regexp_replace(F.col("text"), r"(?U)\s+", " "))
    )
    golden_json = F.to_json(
        F.struct(
            name.alias("name"),
            F.col("source").alias("location"),
            about.alias("about"),
        )
    )
    bad_loc = F.when(
        F.col("doc_id") % 3 == 0, F.concat(F.col("source"), F.lit(" xx"))
    ).otherwise(F.col("source"))
    bad_about = F.when(
        F.col("doc_id") % 5 == 0, F.concat(F.lit("zz "), about)
    ).otherwise(about)
    variants = docs.select(
        "doc_id",
        golden_json.alias("golden_json"),
        _resume_text(name, F.col("source"), about).alias("structured"),
        _resume_text(name, bad_loc, bad_about).alias("raw_text"),
    ).unpivot(
        ["doc_id", "golden_json"], ["structured", "raw_text"],
        "model_name", "resume_text",
    )
    parsed = parse_sections(variants, text_col="resume_text", out_col="record")
    return parsed.select(
        "doc_id",
        "model_name",
        r4(
            leaf_accuracy_udf(F.to_json(F.col("record")), F.col("golden_json"))
        ).alias("leaf_accuracy_pct"),
        F.lit(3).cast("bigint").alias("n_gt_leaves"),
    )


SQL_SECTIONS_LEAF_ACCURACY = f"""
WITH m AS (
  SELECT doc_id,
         3 - (CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)
           - (CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) AS mt
  FROM documents
)
SELECT doc_id, 'structured' AS model_name,
       {sql_r4('100.0 * 3 / 3')} AS leaf_accuracy_pct,
       CAST(3 AS BIGINT) AS n_gt_leaves
FROM m
UNION ALL
SELECT doc_id, 'raw_text' AS model_name,
       {sql_r4('100.0 * mt / 3')} AS leaf_accuracy_pct,
       CAST(3 AS BIGINT) AS n_gt_leaves
FROM m
"""


SQL_WARC_ROUNDTRIP = """
SELECT doc_id,
       CAST(2 AS BIGINT) AS n_records,
       CAST(1 AS BIGINT) AS n_page_rows,
       TRUE AS body_identical,
       TRUE AS ts_match
FROM documents
"""


# ---------------------------------------------------------------------------
# Icetable snapshot isolation + time travel (round 6): the results-store
# metadata layer (sources/icetable.py) exercised end-to-end — append a
# snapshot, dynamically overwrite two partitions, then read BOTH states
# (time travel to snapshot 1 vs the current snapshot) and roll each up.
# The oracle reconstructs the two logical states straight from the
# documents table, so a metadata-layer bug (wrong manifest kept, stale
# file visible, overwrite leaking into the old snapshot) breaks the
# value hash.
# ---------------------------------------------------------------------------


def q_ice_time_travel(spark, sf_dir):
    from ..sources.icetable import IceTable

    base = _docs(spark, sf_dir).select(
        "doc_id",
        F.pmod(F.col("doc_id"), F.lit(8)).cast("int").alias("part"),
        F.length("text").cast("long").alias("text_len"),
    )
    tdir = scratch_dir(spark, "ice_time_travel")
    t = IceTable.create(tdir, partition_col="part", stat_cols=["doc_id"])
    s1 = t.append(base.repartition(8, "part"))
    patch = base.filter(F.col("part").isin(1, 3)).withColumn(
        "text_len", F.col("text_len") * 2
    )
    t.overwrite_partitions(patch.repartition(8, "part"))
    old = t.scan(spark, snapshot_id=s1["snapshot_id"]).withColumn("snap", F.lit(1))
    new = t.scan(spark).withColumn("snap", F.lit(2))
    return (
        old.unionByName(new)
        .groupBy("snap", "part")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("text_len").alias("sum_len"),
            F.sum("doc_id").alias("sum_doc_id"),
        )
    )


def q_ice_schema_evolution(spark, sf_dir):
    """Metadata-driven schema evolution (sources/icetable.py: the table
    schema lives in metadata, not data-file footers): append half the
    docs WITHOUT ``lang_code``, then append the other half WITH it — the
    committed schema becomes the evolved one, and the scan reads the old
    files NULL-filled for the added column with no footer merging. The
    oracle predicts exactly which rows come back null (the pre-evolution
    half), so a wrong fill (dropped rows, misaligned columns, old schema
    winning) breaks the hash. r6 VERDICT next-round #8: this promotes
    the pytest-only evolution coverage to the driver's oracle record."""
    from ..sources.icetable import IceTable

    docs = _docs(spark, sf_dir)
    part = F.pmod(F.col("doc_id"), F.lit(8)).cast("int").alias("part")
    old_half = docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 0).select(
        "doc_id", part, F.length("text").cast("long").alias("text_len")
    )
    new_half = docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 1).select(
        "doc_id", part, F.length("text").cast("long").alias("text_len"),
        F.col("lang").alias("lang_code"),
    )
    tdir = scratch_dir(spark, "ice_schema_evolution")
    t = IceTable.create(tdir, partition_col="part", stat_cols=["doc_id"])
    t.append(old_half.repartition(8, "part"))
    t.append(new_half.repartition(8, "part"))
    return (
        t.scan(spark)
        .groupBy("part")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("text_len").alias("sum_len"),
            F.sum(
                F.when(F.col("lang_code").isNull(), 1).otherwise(0)
            ).cast("bigint").alias("n_nullfilled"),
            F.count_distinct("lang_code").cast("bigint").alias("n_langs"),
        )
    )


SQL_ICE_SCHEMA_EVOLUTION = """
SELECT CAST(doc_id % 8 AS INT) AS part,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS sum_len,
       CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_nullfilled,
       CAST(count(DISTINCT CASE WHEN doc_id % 2 = 1 THEN lang END) AS BIGINT) AS n_langs
FROM documents GROUP BY 1
"""


def q_ice_changelog(spark, sf_dir):
    """CDC read of the icetable (sources/icetable.py changelog_scan):
    append everything, overwrite two partitions with doubled lengths,
    then ask "what changed since snapshot 1?" — copy-on-write granularity
    means every row of the rewritten partitions comes back twice (delete
    of the old image, insert of the new), tagged with the committing
    snapshot. The oracle rebuilds both images from the documents table,
    so a diff bug (stale manifest counted as added, a kept file reported
    removed) breaks the hash."""
    from ..sources.icetable import IceTable

    base = _docs(spark, sf_dir).select(
        "doc_id",
        F.pmod(F.col("doc_id"), F.lit(8)).cast("int").alias("part"),
        F.length("text").cast("long").alias("text_len"),
    )
    tdir = scratch_dir(spark, "ice_changelog")
    t = IceTable.create(tdir, partition_col="part", stat_cols=["doc_id"])
    s1 = t.append(base.repartition(8, "part"))
    patch = base.filter(F.col("part").isin(1, 3)).withColumn(
        "text_len", F.col("text_len") * 2
    )
    t.overwrite_partitions(patch.repartition(8, "part"))
    return t.changelog_scan(spark, from_snapshot_id=s1["snapshot_id"]).select(
        "doc_id",
        "part",
        "text_len",
        F.col("_change_type").alias("change_type"),
        F.col("_commit_snapshot_id").alias("commit_snapshot_id"),
    )


def q_ice_source_read(spark, sf_dir):
    """The icetable incremental read (sources/icetable.py
    incremental_scan from the start of history) under the oracle gate:
    two appends split by doc_id parity, read back as one tagged scan —
    file planning from the manifest diffs, hive partition
    reconstitution, and the _commit_snapshot_id attribution are all on
    the hook for the hash."""
    from ..sources.icetable import IceTable

    base = _docs(spark, sf_dir).select(
        "doc_id",
        F.pmod(F.col("doc_id"), F.lit(8)).cast("int").alias("part"),
        F.length("text").cast("long").alias("text_len"),
    )
    tdir = scratch_dir(spark, "ice_source_read")
    t = IceTable.create(tdir, partition_col="part", stat_cols=["doc_id"])
    t.append(base.filter(F.col("doc_id") % 2 == 0).repartition(8, "part"))
    t.append(base.filter(F.col("doc_id") % 2 == 1).repartition(8, "part"))
    return t.incremental_scan(spark, from_snapshot_id=None).select(
        "doc_id",
        "part",
        "text_len",
        F.col("_commit_snapshot_id").alias("commit_snapshot_id"),
    )


SQL_ICE_SOURCE_READ = """
SELECT doc_id,
       CAST(doc_id % 8 AS INT) AS part,
       CAST(length(text) AS BIGINT) AS text_len,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS BIGINT)
           AS commit_snapshot_id
FROM documents
"""


SQL_ICE_CHANGELOG = """
WITH touched AS (
  SELECT doc_id,
         CAST(doc_id % 8 AS INT) AS part,
         CAST(length(text) AS BIGINT) AS text_len
  FROM documents WHERE doc_id % 8 IN (1, 3)
)
SELECT doc_id, part, text_len, 'delete' AS change_type,
       CAST(2 AS BIGINT) AS commit_snapshot_id
FROM touched
UNION ALL
SELECT doc_id, part, text_len * 2 AS text_len, 'insert' AS change_type,
       CAST(2 AS BIGINT) AS commit_snapshot_id
FROM touched
"""


SQL_ICE_TIME_TRAVEL = """
WITH base AS (
  SELECT doc_id,
         CAST(doc_id % 8 AS INT) AS part,
         CAST(length(text) AS BIGINT) AS text_len
  FROM documents
), states AS (
  SELECT 1 AS snap, part, doc_id, text_len FROM base
  UNION ALL
  SELECT 2 AS snap, part, doc_id,
         CASE WHEN part IN (1, 3) THEN text_len * 2 ELSE text_len END AS text_len
  FROM base
)
SELECT snap, part,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(text_len) AS BIGINT) AS sum_len,
       CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
FROM states GROUP BY snap, part
"""


# ---------------------------------------------------------------------------
# recrawl collapse: the FIRST dedup stage of a crawl pipeline — multiple
# crawl records of the same page (messy url variants, later timestamps)
# collapse onto one canonical row. Hot-key-safe shape: group on the
# canonical url, the agg output IS the keeper (earliest crawl); a
# popular page recrawled a million times is one reducer key with
# map-side partial aggregation, never a join back on the hot url.
# ---------------------------------------------------------------------------


def q_web_recrawl_dedup(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    clean = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example/doc/"), F.col("doc_id")
        ).alias("url"),
        (F.col("doc_id") * 2).cast("bigint").alias("crawl_ts"),
    )
    mod = F.pmod(F.col("doc_id"), F.lit(3))
    messy = docs.select(
        "doc_id",
        F.when(
            mod == 0,
            F.concat(F.lit("HTTPS://"), F.upper("source"), F.lit(".EXAMPLE/doc/"),
                     F.col("doc_id"), F.lit("#top")),
        )
        .when(
            mod == 1,
            F.concat(F.lit("https://"), F.col("source"), F.lit(".example/doc/"),
                     F.col("doc_id"), F.lit("/")),
        )
        .otherwise(
            F.concat(F.lit("https://"), F.col("source"), F.lit(".example:443/doc/"),
                     F.col("doc_id"), F.lit("?utm_source=rss")),
        )
        .alias("url"),
        (F.col("doc_id") * 2 + 1).cast("bigint").alias("crawl_ts"),
    )
    crawls = clean.unionByName(messy)
    return (
        crawls.select(
            "doc_id", canonicalize_url(F.col("url")).alias("canonical_url"), "crawl_ts"
        )
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_crawls"),
            F.min("crawl_ts").alias("first_ts"),
            F.min("doc_id").alias("doc_id"),
        )
    )


SQL_WEB_RECRAWL_DEDUP = """
SELECT 'https://' || source || '.example/doc/' || doc_id AS canonical_url,
       CAST(2 AS BIGINT) AS n_crawls,
       CAST(doc_id * 2 AS BIGINT) AS first_ts,
       doc_id
FROM documents
"""


# ---------------------------------------------------------------------------
# link graph from KERNEL-EXTRACTED hrefs (round 7): pages are rendered
# with three deterministic cross-host "related" links
# (sources/pages._related_links_html), the HTML kernel genuinely parses
# every <a href> back out (extraction_core/html_extract collects them in
# the same parse pass), relative links resolve against the page URL, and
# canonicalize_url collapses tracking-param variants. The oracle predicts
# the whole pipeline from the construction — if the kernel misses or
# invents a link, the hash breaks. Scale shape: extraction is the
# flagship map-only plan; the edge rollup is one groupBy on (src,dst)
# host pairs (host-cardinality-sized, map-side combinable).
# ---------------------------------------------------------------------------


def extracted_link_edges(extracted):
    """(url, out_links) -> one row per absolute resolved link:
    (src_host, dst_host, canonical) — self-links (nav/share resolving to
    the page's own host) filtered out."""
    page_host = F.regexp_extract(F.col("url"), r"^https?://([^/]+)", 1)
    links = extracted.select(
        page_host.alias("src_host"),
        F.col("url").alias("page_url"),
        F.explode("out_links").alias("href"),
    )
    absolute = F.when(
        F.col("href").rlike(r"^https?://"), F.col("href")
    ).otherwise(
        F.concat(
            F.regexp_extract(F.col("page_url"), r"^(https?://[^/]+)", 1),
            F.col("href"),
        )
    )
    canonical = canonicalize_url(absolute)
    return (
        links.select(
            "src_host",
            F.regexp_extract(canonical, r"^https?://([^/]+)", 1).alias("dst_host"),
            canonical.alias("canonical"),
        )
        .where(F.col("src_host") != F.col("dst_host"))
    )


def q_web_link_graph(spark, sf_dir):
    pages = pages_from_documents(spark, sf_dir)
    extracted = run_extraction(pages, num_partitions=16)
    return (
        extracted_link_edges(extracted)
        .groupBy("src_host", "dst_host")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_links"),
            F.count_distinct("canonical").cast("bigint").alias("n_unique_targets"),
        )
    )


# closed-form twin of the construction: k=1 and k=2 are clean targets,
# k=3 repeats k=1 with ?utm_source=feed (same canonical) — so n_links
# counts it but n_unique_targets does not. Relative links (nav/share)
# resolve to the page's own host and are filtered by src != dst, exactly
# like the Spark side.
_SQL_LINK_T = """
  SELECT source || '.example' AS src_host,
         'src' || CAST((doc_id * 7 + {h}) % 20 AS VARCHAR) || '.example' AS dst_host,
         'https://src' || CAST((doc_id * 7 + {h}) % 20 AS VARCHAR)
             || '.example/doc/' || CAST((doc_id * 31 + {p}) % 100000 AS VARCHAR)
             AS canonical
  FROM documents
"""

SQL_WEB_LINK_GRAPH = f"""
WITH t AS (
  {_SQL_LINK_T.format(h=1, p=1000)}
  UNION ALL
  {_SQL_LINK_T.format(h=2, p=2000)}
  UNION ALL
  {_SQL_LINK_T.format(h=1, p=1000)}
)
SELECT src_host, dst_host,
       CAST(count(*) AS BIGINT) AS n_links,
       CAST(count(DISTINCT canonical) AS BIGINT) AS n_unique_targets
FROM t
WHERE src_host != dst_host
GROUP BY src_host, dst_host
"""


QUERIES = {
    "extract_roundtrip": q_extract_roundtrip,
    "web_link_graph": q_web_link_graph,
    "ice_time_travel": q_ice_time_travel,
    "ice_schema_evolution": q_ice_schema_evolution,
    "ice_changelog": q_ice_changelog,
    "ice_source_read": q_ice_source_read,
    "web_warc_roundtrip": q_warc_roundtrip,
    "web_warc_dir_roundtrip": q_warc_dir_roundtrip,
    "sections_leaf_accuracy": q_sections_leaf_accuracy,
    "sections_parse": q_sections_parse,
    "json_recovery": q_json_recovery,
    "word_metrics_kernel": q_word_metrics_kernel,
    "token_wer_kernel": q_token_wer,
    "extract_cost_summary": q_extract_cost_summary,
    "web_host_rollup": q_web_host_rollup,
    "extract_error_taxonomy": q_extract_error_taxonomy,
    "web_url_canonicalize": q_url_canonicalize,
    "web_recrawl_dedup": q_web_recrawl_dedup,
    "ocr_glyph_roundtrip": q_ocr_glyph_roundtrip,
    "ocr_jpeg_roundtrip": q_ocr_jpeg_roundtrip,
}

_SQL_PRED = "regexp_replace(text, 'batch', 'match', 'g')"
_SQL_GT_TOKS = SQL_NORM_TOKENS.format(col="text")
_SQL_PRED_TOKS = SQL_NORM_TOKENS.format(col=_SQL_PRED)

# shared CTE: token lists + single-byte-mapped strings for levenshtein
_SQL_WER_CTES = f"""
WITH toks AS (
  SELECT doc_id, text AS gt, {_SQL_PRED} AS pred,
         {_SQL_GT_TOKS} AS gt_t, {_SQL_PRED_TOKS} AS pred_t
  FROM documents
), mapped AS (
  SELECT *, list_sort(list_distinct(list_concat(gt_t, pred_t))) AS vocab FROM toks
), strs AS (
  -- chr(33 + pos) stays a SINGLE UTF-8 byte only while pos <= 94
  -- (codepoints <= 127); beyond that DuckDB's byte-based levenshtein
  -- silently stops equaling token edit distance. Guard: vocab overflow
  -- emits NULL strings, which the WER expression turns into the -1.0
  -- sentinel — guaranteed checker FAIL instead of a silent wrong oracle.
  SELECT doc_id, gt, pred, gt_t, pred_t, len(gt_t) AS n_gt,
         CASE WHEN len(vocab) > 94 THEN NULL ELSE
           array_to_string(list_transform(gt_t,
               t -> chr(33 + list_position(vocab, t))), '') END AS gs,
         CASE WHEN len(vocab) > 94 THEN NULL ELSE
           array_to_string(list_transform(pred_t,
               t -> chr(33 + list_position(vocab, t))), '') END AS ps
  FROM mapped
)
"""

_SQL_WER_EXPR = (
    "CASE WHEN n_gt > 0 AND gs IS NULL THEN -1.0 WHEN n_gt = 0 THEN 0.0 ELSE "
    + sql_r4("CAST(levenshtein(gs, ps) AS DOUBLE) / n_gt * 100.0")
    + " END"
)

SQL_TOKEN_WER = f"""
{_SQL_WER_CTES}
SELECT doc_id, {_SQL_WER_EXPR} AS wer_pct FROM strs
"""

SQL_WORD_METRICS = f"""
{_SQL_WER_CTES}
SELECT doc_id,
       CASE WHEN n_gt = 0 THEN 100.0 ELSE
         {sql_r4("len(list_filter(gt_t, w -> list_contains(pred_t, w))) / n_gt * 100.0")}
       END AS accuracy_pct,
       CAST(n_gt AS BIGINT) AS total_gt_words,
       {_SQL_WER_EXPR} AS wer_pct,
       {sql_r4(SQL_CER.format(gt="gt", pred="pred"))} AS cer_pct,
       CAST(len(list_distinct(list_filter(gt_t, w -> NOT list_contains(pred_t, w))))
            AS BIGINT) AS n_missing
FROM strs
"""

ORACLES = {
    "extract_roundtrip": SQL_EXTRACT_ROUNDTRIP,
    "web_link_graph": SQL_WEB_LINK_GRAPH,
    "ice_time_travel": SQL_ICE_TIME_TRAVEL,
    "ice_schema_evolution": SQL_ICE_SCHEMA_EVOLUTION,
    "ice_changelog": SQL_ICE_CHANGELOG,
    "ice_source_read": SQL_ICE_SOURCE_READ,
    "web_warc_roundtrip": SQL_WARC_ROUNDTRIP,
    "web_warc_dir_roundtrip": SQL_WARC_DIR_ROUNDTRIP,
    "sections_leaf_accuracy": SQL_SECTIONS_LEAF_ACCURACY,
    "sections_parse": SQL_SECTIONS_PARSE,
    "json_recovery": SQL_JSON_RECOVERY,
    "word_metrics_kernel": SQL_WORD_METRICS,
    "token_wer_kernel": SQL_TOKEN_WER,
    "extract_cost_summary": SQL_EXTRACT_COST,
    "web_host_rollup": SQL_WEB_HOST_ROLLUP,
    "extract_error_taxonomy": SQL_ERROR_TAXONOMY,
    "web_url_canonicalize": SQL_URL_CANONICALIZE,
    "web_recrawl_dedup": SQL_WEB_RECRAWL_DEDUP,
    "ocr_glyph_roundtrip": SQL_OCR_GLYPH,
    "ocr_jpeg_roundtrip": SQL_OCR_JPEG,
}
