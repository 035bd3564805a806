"""Self-test of the benchmark's output checks: each check passes on correct
output and fails once the output is corrupted (one url's text changed,
one query row dropped, one committed partition removed, a cached input
or a pinned table tampered with).

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from perfbench import checks, inputs, workloads

SEED = 7
DOCS = 80


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from ocr_endpoint_project_spark.session import build_session

    os.environ["PYTHONPATH"] = inputs.ROOT
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp_path_factory.mktemp("spark-local"))
    s = build_session(app_name="perfbench-selftest", master="local[2]", shuffle_partitions=2)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    """A small richness-1 corpus in the benchmark's cached layout, with
    the manifest the verification pass writes."""
    from ocr_endpoint_project_spark.sources.corpus import generate_corpus

    path = str(tmp_path_factory.mktemp("corpus") / "pages")
    os.makedirs(path)
    picked = [(r.url, r.warc_ts, r.html, r.text, r.lang)
              for r in generate_corpus(n=DOCS, seed=SEED, richness=1)]
    verified = inputs._verify([(u, h, t) for u, _ts, h, t, _l in picked], 1)
    inputs._write_pages(path, picked)
    inputs._write_manifest(path, inputs._pages_manifest(
        "crawl_mixed", SEED, DOCS, 1, picked, verified))
    return path, inputs.check_pages(path)


def _workload(corpus, run_dir):
    wl = workloads.CrawlMixed(SEED, str(run_dir))
    wl.path, wl.manifest = corpus
    wl.cycles = 0
    return wl


def test_manifest_check_bites_on_tampered_input(corpus, tmp_path):
    import shutil

    path, manifest = corpus
    copy = str(tmp_path / "pages")
    shutil.copytree(path, copy)
    assert inputs.check_pages(copy)["expected"] == manifest["expected"]
    with open(os.path.join(copy, "_manifest.json"), "w", encoding="utf-8") as f:
        json.dump({**manifest, "failure_rows": manifest["failure_rows"] + 1}, f)
    with pytest.raises(inputs.InputError):
        inputs.check_pages(copy)


def test_extraction_check_bites_on_one_corrupted_text(spark, corpus, tmp_path):
    from ocr_endpoint_project_spark.pipeline.extract import run_extraction

    wl = _workload(corpus, tmp_path)
    assert wl.manifest["golden_mismatch"] == 0
    wl.job(spark)
    assert (wl.problems, wl.failed, wl.attempted) == ([], 0, DOCS)

    extracted = run_extraction(wl.pages(spark), wl.partitions).select(
        "url", "extracted_text", "status").cache()

    def check(df):
        return checks.extraction_problems(df, checks.extraction_digest(df), wl.manifest)

    assert check(extracted) == ([], 0)
    victim = sorted(wl.manifest["hashes"])[0]
    corrupted = extracted.withColumn(
        "extracted_text",
        F.when(F.col("url") == victim, F.concat("extracted_text", F.lit("x")))
        .otherwise(F.col("extracted_text")),
    )
    problems, bad = check(corrupted)
    assert problems and bad == 1
    problems, bad = check(extracted.union(extracted.filter(F.col("url") == victim)))
    assert problems and bad == 1
    wrong_status = extracted.withColumn(
        "status", F.when(F.col("url") == victim, F.lit("failed")).otherwise(F.col("status")))
    problems, _ = check(wrong_status)
    assert any("failure rows" in p for p in problems)


def test_oracle_check_bites_on_one_dropped_row(spark):
    from ocr_endpoint_project_spark.operators import all_queries

    oracle = inputs._oracle_results(inputs.DATA_DIR)
    norm_rows = inputs.oracle_norm()
    q = inputs.HEADLINE_QUERIES[0]
    df = all_queries()[q](spark, inputs.DATA_DIR)
    rows = [tuple(r) for r in df.collect()]
    assert checks.oracle_problems(q, df.columns, rows, oracle[q], norm_rows) == []
    assert checks.oracle_problems(q, df.columns, rows[1:], oracle[q], norm_rows)
    altered = [rows[0][:-1] + ("not-a-value",)] + rows[1:]
    assert checks.oracle_problems(q, df.columns, altered, oracle[q], norm_rows)


def test_table_check_bites_on_tampered_copy(tmp_path):
    import shutil

    import pyarrow.parquet as pq

    for name in inputs.HEADLINE_DATA:
        shutil.copy(os.path.join(inputs.DATA_DIR, f"{name}.parquet"), tmp_path)
    assert inputs.check_tables(str(tmp_path)) == {
        n: rows for n, (rows, _sha) in inputs.HEADLINE_DATA.items()}
    docs = str(tmp_path / "documents.parquet")
    pq.write_table(pq.read_table(docs).slice(1), docs)
    with pytest.raises(inputs.InputError):
        inputs.check_tables(str(tmp_path))


def test_commit_check_bites_on_one_removed_partition(spark, corpus, tmp_path):
    wl = _workload(corpus, tmp_path)
    runs, table, _out = wl.commit_cycle(spark)
    args = (wl.manifest["expected"], wl.manifest["hashes"], wl.partitions)
    scan = table.scan(spark).cache()
    assert checks.commit_problems(scan, runs, *args) == ([], 0)

    gone = scan.select("partition_id").first()["partition_id"]
    lost = scan.filter(F.col("partition_id") != gone)
    problems, bad = checks.commit_problems(lost, runs, *args)
    assert problems and bad == scan.filter(F.col("partition_id") == gone).count()

    problems, _ = checks.commit_problems(scan.union(scan.limit(1)), runs, *args)
    assert any("duplicated" in p for p in problems)
    rerun = {**runs, "C": {**runs["C"], "skipped": runs["C"]["skipped"] - 1}}
    assert checks.commit_problems(scan, rerun, *args)[0]
