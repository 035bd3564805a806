"""Seeded, cached, manifest-checked benchmark inputs.

The crawl input is a pure function of (generator versions, seed, size). It is
generated once into ``.perfbench_cache/`` at the checkout root and
published with an atomic directory rename, the discipline
``sources.pages.cached_corpus_pages`` uses. Generation writes a manifest
next to the data; every run re-derives the manifest fields from the files
and compares them, so a stale or damaged cache fails the run instead of
skewing it. Generation needs no Spark session, so its time stays out of
``setup_s`` (it is reported as ``inputs_s``).

Inputs:

* ``crawl_mixed``: the seeded ``generate_corpus`` mix at richness 8,
  stratified to fixed per-class counts (kind x layout x language, plus the
  designed failure rows) so the seed changes the documents but not the
  cost mix. The base set is fanned out to distinct urls in Catalyst.
* ``headline_queries``: the first 2,000 ``documents`` and 1,000
  ``embeddings`` rows of the engine's ``sf0.1`` test data, stored in
  ``perfbench/data/`` and pinned by row count and sha256 (fixed: the seed
  does not apply), plus the cached DuckDB oracle result of every
  benchmarked query, normalised as ``tools/check_oracles.py`` does.

The expected output checksum of the corpus comes from one verification
pass: every document is extracted serially, every golden-bearing document
is compared with its golden text byte for byte, and the expected text is
the golden text (the kernel's own output only for golden-less rows).
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
import shutil
import sys
from concurrent.futures import ProcessPoolExecutor
from contextlib import contextmanager
from multiprocessing import resource_tracker

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE_DIR = os.path.join(ROOT, ".perfbench_cache")

# bump when the benchmark's own generators change shape or content
INPUTS_VERSION = 1

GEN_PROCS = 4
CHUNK_DOCS = 200

CRAWL_BASE = 800
CRAWL_REPLICAS = 3
CRAWL_RICHNESS = 8
# documents per stratum in the 800-document base, from the class shares of
# 20,000 generate_corpus rows (4 seeds); "fail/*" are the designed failure
# rows (golden-less), "pdf/resume" the resume-grammar PDFs
CRAWL_QUOTAS = {
    "html/mono/en": 265, "html/mono/ar": 87, "html/mono/fr": 85,
    "pdf/resume": 45, "pdf/mono/en": 50, "pdf/mono/ar": 16, "pdf/mono/fr": 16,
    "pdf/multi/en": 33, "pdf/multi/ar": 11, "pdf/multi/fr": 10,
    "pdf/scan/en": 26, "pdf/scan/ar": 10, "pdf/scan/fr": 9,
    "png/scan/en": 43, "png/scan/fr": 16, "png/scan/ar": 15,
    "jpg/scan/en": 22, "jpg/scan/fr": 7, "jpg/scan/ar": 6,
    "fail/bin": 14, "fail/html": 9, "fail/jpg": 5,
}

# the benchmarked subset of bench.HEADLINE (see README: the full 21-query
# suite does not fit the per-run budget at local[4])
HEADLINE_QUERIES = (
    "text_hashed_linear_score",
    "ann_ivf_bucketed",
    "word_metrics_kernel",
)

class InputError(RuntimeError):
    """A cached input does not match its manifest."""


# -- hashing ---------------------------------------------------------------

def row_hash(url: str, text: str) -> int:
    """60-bit per-document hash; ``checks.row_hash_col`` is its Spark twin."""
    return int(hashlib.md5(f"{url}\n{text}".encode("utf-8")).hexdigest()[:15], 16)


def fan_url(url: str, rep: int) -> str:
    """Url of replica ``rep`` (``checks.fan_out`` builds it in Catalyst)."""
    return f"{url}#{rep}"


def digest(hashes) -> dict:
    """Order-insensitive digest of per-document hashes: count, xor and a
    sum of the low 31 bits (the xor alone cancels pairs of duplicates)."""
    n = x = s = 0
    for h in hashes:
        n += 1
        x ^= h
        s += h % (1 << 31)
    return {"docs": n, "xor": x, "sum": s}


# -- cache plumbing --------------------------------------------------------

def _publish(tmp: str, path: str) -> None:
    try:
        os.rename(tmp, path)
    except OSError:  # lost a race with another generator: keep theirs
        shutil.rmtree(tmp, ignore_errors=True)


def _fresh_tmp(path: str) -> str:
    tmp = f"{path}.build-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    return tmp


def _read_manifest(path: str) -> dict:
    with open(os.path.join(path, "_manifest.json"), encoding="utf-8") as f:
        return json.load(f)


def _write_manifest(tmp: str, manifest: dict) -> None:
    with open(os.path.join(tmp, "_manifest.json"), "w", encoding="utf-8") as f:
        json.dump(manifest, f, sort_keys=True)


@contextmanager
def _pool():
    """Generator processes; on exit they are joined, and so is the
    resource tracker a spawn-context pool starts, which would otherwise
    outlive the pool until this process exits."""
    try:
        with ProcessPoolExecutor(
            max_workers=GEN_PROCS, mp_context=multiprocessing.get_context("spawn")
        ) as ex:
            yield ex
    finally:
        resource_tracker._resource_tracker._stop()


# -- page corpora ------------------------------------------------------------

def _stratum(row) -> str:
    if not row.text:
        return f"fail/{row.extension}"
    i = int(row.url.rsplit("/", 1)[1])
    if row.extension == "pdf" and i % 17 == 3:
        return "pdf/resume"
    return f"{row.extension}/{row.layout_type}/{row.lang}"


def _crawl_chunk(seed: int, k: int) -> list[tuple]:
    """Chunk ``k`` of the crawl pool: its own sub-seed, urls made unique."""
    from ocr_endpoint_project_spark.sources.corpus import generate_corpus

    return [
        (_stratum(r), r.url.replace("/doc/", f"/doc/{k:03d}-"), r.warc_ts, r.html, r.text, r.lang)
        for r in generate_corpus(n=CHUNK_DOCS, seed=seed * 1000 + k, richness=CRAWL_RICHNESS)
    ]


def _verify(rows: list[tuple], replicas: int) -> list[tuple]:
    """Verification pass over (url, payload, golden) rows: returns
    (url, golden_mismatch, status, expected hashes per replica)."""
    from ocr_endpoint_project_spark.extraction_core.document import extract_document

    out = []
    for url, payload, golden in rows:
        res = extract_document(payload)
        text = golden if golden else res.extracted_text
        out.append((
            url,
            bool(golden) and res.extracted_text != golden,
            res.status,
            [row_hash(fan_url(url, r), text) for r in range(replicas)],
        ))
    return out


def _pages_manifest_fields(rows, replicas: int) -> dict:
    """Manifest fields recomputable from the stored pages alone."""
    from ocr_endpoint_project_spark.extraction_core.sniff import sniff_doc_kind

    kinds: dict[str, int] = {}
    payload = failures = 0
    for _url, html, text in rows:
        k = sniff_doc_kind(html)
        kinds[k] = kinds.get(k, 0) + replicas
        payload += len(html or b"") * replicas
        failures += (not text) * replicas
    return {
        "docs": len(rows) * replicas,
        "docs_per_kind": dict(sorted(kinds.items())),
        "payload_mb": round(payload / 1e6, 6),
        "failure_rows": failures,
    }


def _write_pages(tmp: str, rows: list[tuple], files: int = 8) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ])
    for k in range(files):
        part = rows[k::files]
        cols = list(zip(*part)) if part else [()] * len(schema)
        pq.write_table(
            pa.Table.from_arrays(
                [pa.array(list(c), f.type) for c, f in zip(cols, schema)], schema=schema
            ),
            os.path.join(tmp, f"part-{k:03d}.parquet"),
        )


def _pages_manifest(name, seed, base, replicas, picked, verified) -> dict:
    from ocr_endpoint_project_spark.sources.corpus import CORPUS_VERSION

    hashes = {
        fan_url(url, r): h
        for url, _bad, _status, hs in verified
        for r, h in enumerate(hs)
    }
    return {
        "workload": name,
        "inputs_version": INPUTS_VERSION,
        "corpus_version": CORPUS_VERSION,
        "seed": seed,
        "base_docs": base,
        "replicas": replicas,
        **_pages_manifest_fields([(u, h, t) for u, _ts, h, t, _l in picked], replicas),
        "status_failed": sum(s != "succeeded" for _u, _b, s, _h in verified) * replicas,
        "golden_mismatch": sum(b for _u, b, _s, _h in verified) * replicas,
        "expected": digest(hashes.values()),
        "hashes": hashes,
    }


def _pages_path(name: str, seed: int, base: int, replicas: int, richness: int) -> str:
    from ocr_endpoint_project_spark.sources.corpus import CORPUS_VERSION

    return os.path.join(
        CACHE_DIR,
        f"{name}_c{CORPUS_VERSION}_i{INPUTS_VERSION}_s{seed}_b{base}_r{replicas}_k{richness}",
    )


def crawl_corpus(seed: int) -> tuple[str, dict]:
    """Stratified richness-8 crawl base (CRAWL_BASE docs); path + manifest."""
    path = _pages_path("crawl", seed, CRAWL_BASE, CRAWL_REPLICAS, CRAWL_RICHNESS)
    if not os.path.isdir(path):
        need = dict(CRAWL_QUOTAS)
        picked: list[tuple] = []
        with _pool() as ex:
            k = 0
            while any(need.values()):
                if k >= 1000:
                    raise InputError(f"strata never filled: {need}")
                wave = ex.map(_crawl_chunk, [seed] * GEN_PROCS, range(k, k + GEN_PROCS))
                k += GEN_PROCS
                for chunk in wave:
                    for stratum, *row in chunk:
                        if need.get(stratum, 0) > 0:
                            need[stratum] -= 1
                            picked.append(tuple(row))
            slices = [[(u, h, t) for u, _ts, h, t, _l in picked[i::GEN_PROCS]]
                      for i in range(GEN_PROCS)]
            verified = [v for part in ex.map(_verify, slices, [CRAWL_REPLICAS] * GEN_PROCS)
                        for v in part]
        tmp = _fresh_tmp(path)
        _write_pages(tmp, picked)
        _write_manifest(tmp, _pages_manifest(
            "crawl_mixed", seed, CRAWL_BASE, CRAWL_REPLICAS, picked, verified))
        _publish(tmp, path)
    return path, check_pages(path)


def check_pages(path: str) -> dict:
    """Re-derive the manifest fields from the stored pages; raise on drift."""
    import pyarrow.parquet as pq

    manifest = _read_manifest(path)
    tbl = pq.read_table(path, columns=["url", "html", "text"])
    rows = list(zip(*(tbl.column(c).to_pylist() for c in ("url", "html", "text"))))
    got = _pages_manifest_fields(rows, manifest["replicas"])
    bad = {k: (v, manifest.get(k)) for k, v in got.items() if manifest.get(k) != v}
    if len(rows) != manifest["base_docs"]:
        bad["base_docs"] = (len(rows), manifest["base_docs"])
    if bad:
        raise InputError(f"{path}: manifest mismatch (found, expected): {bad}")
    return manifest


# -- headline tables -----------------------------------------------------------

# the two tables the benchmarked queries read: the first rows of the
# engine's sf0.1 test tables (seed-42 generator, see TESTDATA.md), the
# same rows in the same order, stored in perfbench/data/. They are fixed:
# the seed does not apply. (rows, sha256) pin the files.
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
HEADLINE_DATA = {
    "documents": (2000, "59d33d135d00099ac6858336e5c37b3535f37796d01245a7273b55a2b144241e"),
    "embeddings": (1000, "01b9612f7193619bd84fedc6643e6dff2dbd75f3ab36306da932e7c66cd88add"),
}


def _oracle_results(sf_dir: str) -> dict:
    """DuckDB result of each benchmarked query, normalised as the repo's
    oracle gate (tools/check_oracles.py) normalises."""
    import duckdb

    from ocr_endpoint_project_spark.operators import all_oracles

    norm_rows = oracle_norm()
    oracles = all_oracles()
    con = duckdb.connect()
    try:
        for name in HEADLINE_DATA:
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
            )
        out = {}
        for q in HEADLINE_QUERIES:
            rel = con.sql(oracles[q])
            cols = list(rel.columns)
            out[q] = {"cols": sorted(cols), "rows": [list(r) for r in norm_rows(cols, rel.fetchall())]}
        return out
    finally:
        con.close()


def oracle_norm():
    """``norm_rows`` from tools/check_oracles.py, imported without letting
    that script's own sys.path edit outlive the import."""
    saved = list(sys.path)
    try:
        from tools.check_oracles import norm_rows
    finally:
        sys.path[:] = saved
    return norm_rows


def check_tables(sf_dir: str) -> dict:
    """Rows and sha256 of each headline table; raise on drift."""
    import pyarrow.parquet as pq

    got = {}
    for name in HEADLINE_DATA:
        path = os.path.join(sf_dir, f"{name}.parquet")
        with open(path, "rb") as f:
            sha = hashlib.sha256(f.read()).hexdigest()
        got[name] = (pq.ParquetFile(path).metadata.num_rows, sha)
    if got != HEADLINE_DATA:
        raise InputError(f"{sf_dir}: tables (rows, sha256) {got} != {HEADLINE_DATA}")
    return {name: rows for name, (rows, _sha) in got.items()}


def headline_tables(seed: int) -> tuple[str, dict]:
    """The pinned tables + their cached oracle results; path + manifest.
    ``seed`` is recorded only: the tables are fixed."""
    rows = check_tables(DATA_DIR)
    path = os.path.join(CACHE_DIR, f"oracle_i{INPUTS_VERSION}_{HEADLINE_DATA['documents'][1][:12]}"
                        f"_{HEADLINE_DATA['embeddings'][1][:12]}")
    if not os.path.isdir(path):
        tmp = _fresh_tmp(path)
        _write_manifest(tmp, {
            "workload": "headline_queries",
            "inputs_version": INPUTS_VERSION,
            "rows": rows,
            "oracle": _oracle_results(DATA_DIR),
        })
        _publish(tmp, path)
    manifest = _read_manifest(path)
    if manifest["rows"] != rows:
        raise InputError(f"{path}: oracle manifest rows {manifest['rows']} != tables {rows}")
    return DATA_DIR, {**manifest, "seed": seed, "seed_applies": False}
