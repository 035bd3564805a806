"""Spark-layer tests: the flagship pipeline end-to-end, byte-identity on
the cluster, lineage + checkpoint resume, ingestion quarantine, and the
structured-parse stage."""

from __future__ import annotations

import os
import re

import pyspark.sql.functions as F
import pytest

from ocr_endpoint_project_spark.pipeline.extract import run_extraction, salted_pages
from ocr_endpoint_project_spark.pipeline.ingest import validate_pages
from ocr_endpoint_project_spark.pipeline.lineage import (
    job_progress,
    lineage_rows,
    run_with_lineage_ice,
)
from ocr_endpoint_project_spark.sources.icetable import IceTable
from ocr_endpoint_project_spark.sources.pages import corpus_pages, pages_from_documents

N_CORPUS = 120
SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def pages(spark):
    return corpus_pages(spark, n=N_CORPUS, seed=42).cache()


def test_byte_identity_on_spark(spark, pages):
    """The BASELINE.json per-row invariant, on the cluster: extracted text
    byte-identical to golden per url (confusion-free harness: per-url
    left join + equality, mismatches reported by url)."""
    extracted = run_extraction(pages, num_partitions=16)
    golden = pages.select("url", F.col("text").alias("golden"))
    joined = extracted.join(golden, "url", "left")
    checked = joined.filter(F.col("golden") != "")
    mismatch = checked.filter(F.col("extracted_text") != F.col("golden"))
    bad = [r["url"] for r in mismatch.select("url").limit(5).collect()]
    assert mismatch.count() == 0, f"byte mismatches at urls: {bad}"
    # every golden-bearing row extracted successfully
    assert checked.filter(F.col("status") != "succeeded").count() == 0


def test_failure_rows_become_rows_not_exceptions(spark, pages):
    extracted = run_extraction(pages, num_partitions=8)
    failed = extracted.filter(F.col("status") == "failed")
    errs = {r["error"] for r in failed.select("error").distinct().collect()}
    assert "OCR_PROVIDER_ERROR" in errs  # empty payload rows
    assert "INVALID_FILE_TYPE" in errs  # binary-noise rows
    assert extracted.count() == N_CORPUS


def _skewed_host_urls(spark, n: int = 7000):
    """A url-only frame where 30% of the urls share one host."""
    i = F.col("id")
    host = F.when(i % 10 < 3, F.lit("skewed-host.example")).otherwise(
        F.concat(F.lit("h"), (i % 97).cast("string"), F.lit(".example"))
    )
    return spark.range(n).select(
        F.concat(F.lit("https://"), host, F.lit("/doc/"), i.cast("string")).alias("url")
    )


def _skewed_rows_per_task(df) -> list[int]:
    """Rows of the skewed host held by each of the 8 tasks of ``df``."""
    counts = dict(
        df.filter(F.col("url").contains("skewed-host"))
        .groupBy(F.spark_partition_id().alias("task"))
        .count()
        .collect()
    )
    return [counts.get(t, 0) for t in range(8)]


def _balanced(counts: list[int]) -> bool:
    mean = sum(counts) / len(counts)
    return all(0.75 * mean <= c <= 1.25 * mean for c in counts)


def test_salted_partitioning_spreads_skewed_host(spark):
    """2,100 of 7,000 urls share one host; the salted exchange must still
    give every task 0.75-1.25x the mean of that host's rows (north_rule:
    salting defeats host-level skew), and each task holds exactly the
    logical partition it is numbered by. An exchange keyed on the host
    fails the same check."""
    urls = _skewed_host_urls(spark)
    df = salted_pages(urls, 8)
    assert df.filter(F.col("partition_id") != F.spark_partition_id()).count() == 0
    counts = _skewed_rows_per_task(df)
    assert sum(counts) == 2100 and _balanced(counts), counts
    by_host = urls.repartition(8, F.parse_url("url", F.lit("HOST")))
    assert not _balanced(_skewed_rows_per_task(by_host))


def test_partition_id_is_data_derived(spark, pages):
    a = salted_pages(pages, num_partitions=16).select("url", "partition_id")
    b = salted_pages(pages.repartition(3), num_partitions=16).select("url", "partition_id")
    assert a.exceptAll(b).count() == 0  # same ids regardless of input layout


def test_lineage_and_resume(spark, pages, tmp_path):
    out = str(tmp_path / "job")
    # run 1: only a subset of partitions "completed" — simulate by running
    # the job on rows of partitions 0..7 only
    tagged = salted_pages(pages, num_partitions=16)
    subset = tagged.filter(F.col("partition_id") < 8).drop("partition_id")
    r1 = run_with_lineage_ice(spark, subset, out, run_id="run-1", num_partitions=16)
    assert r1["resumed_partitions_skipped"] == 0
    table = IceTable.load(r1["table_dir"])
    s1 = table.snapshots()[-1]["summary"]
    done1 = {int(p) for p in s1["replaced_partitions"]}
    assert done1 and all(p < 8 for p in done1)

    # run 2: full input, resume — partitions from run 1 must be skipped
    r2 = run_with_lineage_ice(spark, pages, out, run_id="run-2", num_partitions=16)
    assert r2["resumed_partitions_skipped"] == len(done1)

    # exactly-once: final extracted data covers every url exactly once
    final = table.scan(spark)
    assert final.count() == N_CORPUS
    assert final.select("url").distinct().count() == N_CORPUS
    # run-1 partitions were NOT reprocessed: run 2 replaced only others
    s2 = table.snapshots()[-1]["summary"]
    assert s2["run_id"] == "run-2"
    assert not {int(p) for p in s2["replaced_partitions"]} & done1
    # lineage accounting: doc counts sum to corpus size
    assert s1["lineage"]["doc_count"] + s2["lineage"]["doc_count"] == N_CORPUS

    # SURVEY §5 property: resume(run A ∪ run B) ≡ one single-shot run,
    # content-wise per url (not just counts)
    single = run_extraction(pages, num_partitions=16)
    resumed_sig = {
        (r["url"], r["extracted_text"]) for r in final.select("url", "extracted_text").collect()
    }
    single_sig = {
        (r["url"], r["extracted_text"]) for r in single.select("url", "extracted_text").collect()
    }
    assert resumed_sig == single_sig


def test_lineage_checksum_deterministic(spark, pages):
    ex = run_extraction(pages, num_partitions=8).cache()
    l1 = {r["partition_id"]: r["checksum"] for r in lineage_rows(ex, "a").collect()}
    l2 = {r["partition_id"]: r["checksum"] for r in lineage_rows(ex.repartition(5), "b").collect()}
    assert l1 == l2  # order-insensitive checksum
    ex.unpersist()


def test_validate_pages_quarantine(spark, pages):
    valid, quarantined = validate_pages(pages)
    assert valid.count() + quarantined.count() == N_CORPUS
    codes = {r["error_code"] for r in quarantined.select("error_code").distinct().collect()}
    assert "EMPTY_FILE" in codes
    assert "INVALID_FILE_TYPE" in codes
    # valid rows all extract without INVALID_FILE_TYPE
    ex = run_extraction(valid, num_partitions=8)
    assert ex.filter(F.col("error") == "INVALID_FILE_TYPE").count() == 0


def test_structured_parse_stage(spark, pages):
    from ocr_endpoint_project_spark.functions.kernels import parse_sections

    extracted = run_extraction(pages, num_partitions=8)
    resumes = extracted.filter(F.col("extracted_text").contains("NAME:"))
    parsed = parse_sections(resumes)
    rows = parsed.select("record.name", "record.experiences", "record.skills").collect()
    assert rows, "corpus must contain resume-grammar docs"
    for r in rows:
        assert r["name"], "segmenter must recover the name"
        assert r["experiences"] is not None
        assert r["skills"] and r["skills"][0]["items"]


def test_pages_from_documents_byte_identity(spark):
    pages_df = pages_from_documents(spark, SF_DIR)
    extracted = run_extraction(pages_df, num_partitions=8)
    golden = pages_df.select("url", F.col("text").alias("golden"))
    j = extracted.join(golden, "url")
    assert j.filter(F.col("extracted_text") != F.col("golden")).count() == 0
    assert j.count() == 500


def test_job_progress_from_lineage(spark, pages, tmp_path):
    """Progress percentages derive from the results table (the reference's
    per-job progress reporting, cv_api/main.py:223-301, generalized to
    partitions): 0% before any run, 100% after a full run, partial for a
    table holding only some partitions."""
    out = str(tmp_path / "job")
    table_dir = out + "/extracted_ice"

    p0 = job_progress(table_dir, num_partitions=8)
    assert p0["stage"] == "preparing" and p0["percent"] == 0.0

    run_with_lineage_ice(spark, pages, out, run_id="run-1", num_partitions=8)
    # progress reads table metadata only
    p1, jobs = _spark_jobs(spark, "job_progress", lambda: job_progress(table_dir, 8))
    assert jobs == 0
    assert p1["stage"] == "completed" and p1["percent"] == 100.0
    assert p1["partitions_done"] == 8
    assert p1["docs_done"] == pages.count()

    # a table with only SOME partitions committed reads as partial
    half = IceTable.load(table_dir).scan(spark).filter(F.col("partition_id") < 4)
    partial_dir = str(tmp_path / "partial")
    IceTable.create(partial_dir, partition_col="partition_id").overwrite_partitions(half)
    p2 = job_progress(partial_dir, num_partitions=8)
    assert p2["stage"] == "extracting" and 0.0 < p2["percent"] < 100.0
    assert p2["partitions_done"] == 4 and p2["docs_done"] == half.count()


def test_lineage_stage_timestamps_real(spark, pages, tmp_path):
    """started_at is captured BEFORE the data write and finished_at at
    lineage-commit time (the reference records genuine per-stage timings,
    cv_api/main.py:246-256) — so the pair brackets the write instead of
    being one vacuous double current_timestamp()."""
    from datetime import datetime

    out = str(tmp_path / "job")
    res = run_with_lineage_ice(spark, pages, out, run_id="run-1", num_partitions=8)
    rows = [e["lineage"] for e in IceTable.load(res["table_dir"]).plan_files()]
    assert rows and all(
        datetime.fromisoformat(r["started_at"]) < datetime.fromisoformat(r["finished_at"])
        for r in rows
    )
    s = IceTable.load(res["table_dir"]).snapshots()[-1]["summary"]
    assert datetime.fromisoformat(s["started_at"]) < datetime.fromisoformat(
        s["finished_at"]
    )


def test_job_progress_denominator_from_lineage(spark, pages, tmp_path):
    """A job launched with one partition count must report that count as
    the denominator even when the progress caller assumes a different
    default — partitions_total rides the snapshot summary itself."""
    out = str(tmp_path / "job")
    r = run_with_lineage_ice(spark, pages, out, run_id="run-1", num_partitions=8)
    # caller guesses 999 partitions; the table knows the truth
    p = job_progress(r["table_dir"], num_partitions=999)
    assert p["partitions_total"] == 8
    assert p["stage"] == "completed" and p["percent"] == 100.0


def test_job_progress_after_snapshot_expiry(spark, pages, tmp_path):
    """Expiring a finished run's history leaves only the expire snapshot,
    which records no ``partitions_total``; the live entries' lineage still
    does, so the job keeps reading as completed over its own 8
    partitions, not the caller's default 64."""
    r = run_with_lineage_ice(spark, pages, str(tmp_path / "job"), num_partitions=8)
    IceTable.load(r["table_dir"]).expire_snapshots(keep_last=1)
    p = job_progress(r["table_dir"])
    assert p["stage"] == "completed" and p["percent"] == 100.0
    assert p["partitions_total"] == 8


def _spark_jobs(spark, group: str, fn):
    """``fn()``'s result and the number of Spark jobs it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_sink_spark_job_counts(spark, tmp_path):
    """One commit reads its lineage once: a fresh run and a resumed run
    each start the stage's jobs plus one lineage collect, and a rerun over
    a fully done table builds no plan at all — yet still commits its
    zero-doc snapshot."""
    # uncached, so no run pays for materializing an input cache
    pages = corpus_pages(spark, n=N_CORPUS, seed=42)
    # the salted exchange's shuffle-map job and the write job, then the
    # lineage collect's map and result jobs
    _, fresh = _spark_jobs(
        spark, "sink_fresh",
        lambda: run_with_lineage_ice(spark, pages, str(tmp_path / "fresh"), num_partitions=8),
    )
    assert fresh == 4

    out = str(tmp_path / "job")
    half = (
        salted_pages(pages, num_partitions=8)
        .filter(F.col("partition_id") % 2 == 0)
        .drop("partition_id")
    )
    run_with_lineage_ice(spark, half, out, run_id="A", num_partitions=8)
    r, resumed = _spark_jobs(
        spark, "sink_resume",
        lambda: run_with_lineage_ice(spark, pages, out, run_id="B", num_partitions=8),
    )
    assert r["resumed_partitions_skipped"] == 4
    assert resumed == 4

    r, rerun = _spark_jobs(
        spark, "sink_rerun",
        lambda: run_with_lineage_ice(spark, pages, out, run_id="C", num_partitions=8),
    )
    assert rerun == 0
    assert r["resumed_partitions_skipped"] == 8
    s = IceTable.load(r["table_dir"]).snapshots()[-1]["summary"]
    assert s["run_id"] == "C" and s["partitions_total"] == 8
    assert s["lineage"]["doc_count"] == 0 and s["replaced_partitions"] == []


def _table_files(table: IceTable) -> list[str]:
    """Every file under the table's directory: data, staging and metadata."""
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(table.table_dir) for f in fs)


def _assert_resume_refused(spark, pages, out: str, num_partitions: int, n_rows: int):
    """A resume of ``out`` at ``num_partitions`` raises before it stages
    or commits anything."""
    table = IceTable.load(out + "/extracted_ice")
    files = _table_files(table)
    with pytest.raises(ValueError, match="new table"):
        run_with_lineage_ice(spark, pages, out, run_id="B", num_partitions=num_partitions)
    assert _table_files(table) == files
    assert table.scan(spark).count() == n_rows


def test_resume_refuses_other_partition_count(spark, tmp_path):
    """Ids assigned under another partition count name other urls: a
    finished 80-doc table written at P=8 and resumed at P=16 must be
    refused, not topped up with duplicates."""
    pages = corpus_pages(spark, n=80, seed=42).cache()
    out = str(tmp_path / "job")
    run_with_lineage_ice(spark, pages, out, run_id="A", num_partitions=8)
    _assert_resume_refused(spark, pages, out, 16, 80)
    # the same partition count still resumes everything away
    r = run_with_lineage_ice(spark, pages, out, run_id="C", num_partitions=8)
    assert r["resumed_partitions_skipped"] == 8
    pages.unpersist()


def test_resume_refuses_table_without_id_rule(spark, tmp_path):
    """A table whose entries record no id rule (written before the rule
    was recorded) is refused the same way, at its own partition count."""
    pages = corpus_pages(spark, n=40, seed=7).cache()
    src = IceTable.load(
        run_with_lineage_ice(spark, pages, str(tmp_path / "src"), num_partitions=8)["table_dir"]
    )
    lineage = {e["partition"]: e["lineage"] for e in src.plan_files()}
    out = str(tmp_path / "job")
    old = IceTable.create(out + "/extracted_ice", partition_col="partition_id")
    entries = old.stage_overwrite(src.scan(spark))
    for e in entries:
        e["lineage"] = {
            k: v for k, v in lineage[e["partition"]].items() if k != "partition_id_rule"
        }
    old.commit_overwrite(entries)
    _assert_resume_refused(spark, pages, out, 8, 40)
    pages.unpersist()


def test_commit_plan_has_one_exchange(spark, tmp_path, monkeypatch):
    """The frame the sink stages is the salted extraction with no second
    shuffle: each task holds one partition_id, so the write needs none."""
    staged = []
    stage = IceTable.stage_overwrite

    def _capture(self, df):
        staged.append(df)
        return stage(self, df)

    monkeypatch.setattr(IceTable, "stage_overwrite", _capture)
    pages = corpus_pages(spark, n=40, seed=11)
    run_with_lineage_ice(spark, pages, str(tmp_path / "job"), num_partitions=8)
    (df,) = staged
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\bExchange\b", plan)) == 1, plan


def test_canonicalize_url_separator_correct(spark):
    """Round-5 fix: stripping a leading tracking param promotes the next
    param's separator ('a?utm=x&page=2' -> 'a?page=2'), a sole tracking
    param drops with its '?', and multiple tracking params all vanish."""
    from ocr_endpoint_project_spark.operators.extraction import canonicalize_url

    cases = {
        "https://h.example/a?utm_source=x&page=2": "https://h.example/a?page=2",
        "https://h.example/a?page=2&utm_source=x": "https://h.example/a?page=2",
        "https://h.example/a?utm_source=x": "https://h.example/a",
        "https://h.example/a?utm_a=1&utm_b=2&page=2": "https://h.example/a?page=2",
        "https://h.example/a?utm_a=1&ref=r": "https://h.example/a",
        "HTTPS://H.example:443/Path/?x=1#frag": "https://h.example/Path/?x=1",
    }
    rows = spark.createDataFrame([(u,) for u in cases], ["url"]).select(
        "url", canonicalize_url("url").alias("canon")
    ).collect()
    for r in rows:
        assert r.canon == cases[r.url], (r.url, r.canon)
