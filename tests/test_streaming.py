"""Structured Streaming incremental extraction: exactly-once per input
file via checkpoint, byte-identity preserved through the stream path."""

from __future__ import annotations

import pyspark.sql.functions as F

from ocr_endpoint_project_spark.sources.icetable import IceTable
from ocr_endpoint_project_spark.sources.pages import corpus_pages
from ocr_endpoint_project_spark.streaming import stream_extract


def _await(q):
    q.awaitTermination(120)


def test_stream_extract_incremental(spark, tmp_path):
    """Each restart commits only the new files, one icetable snapshot per
    micro-batch, partitioned by batch_id; a replayed batch REPLACES its
    partition instead of duplicating it."""
    in_dir = str(tmp_path / "in")
    table_dir = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    all_pages = corpus_pages(spark, n=60, seed=42).cache()
    batch1 = all_pages.filter(F.col("warc_ts") < F.lit("2024-01-01 00:00:30"))
    batch2 = all_pages.filter(F.col("warc_ts") >= F.lit("2024-01-01 00:00:30"))

    # batch 1 arrives, stream drains it (availableNow) and stops
    batch1.write.mode("append").parquet(in_dir)
    _await(stream_extract(spark, in_dir, table_dir, ckpt, num_partitions=8))
    table = IceTable.load(table_dir)
    n1 = table.scan(spark).count()
    assert n1 == batch1.count()

    # batch 2 arrives as two files; restart processes ONLY the new files
    # (checkpoint), one file per micro-batch
    batch2.repartition(2).write.mode("append").parquet(in_dir)
    _await(stream_extract(
        spark, in_dir, table_dir, ckpt, num_partitions=8, max_files_per_trigger=1
    ))
    out = table.scan(spark)
    assert out.count() == 60
    assert out.select("url").distinct().count() == 60  # exactly-once
    assert {"extracted_text", "batch_id"} <= set(out.columns)
    batches = [s["summary"]["stream_batch_id"] for s in table.snapshots()]
    assert batches == [0, 1, 2]  # one snapshot per micro-batch
    assert out.filter(F.col("batch_id") == 0).count() == n1

    # byte identity holds through the streaming path
    golden = all_pages.select("url", F.col("text").alias("golden"))
    j = out.join(golden, "url").filter(F.col("golden") != "")
    assert j.filter(F.col("extracted_text") != F.col("golden")).count() == 0

    # a third restart with no new input is a no-op
    _await(stream_extract(spark, in_dir, table_dir, ckpt, num_partitions=8))
    assert table.scan(spark).count() == 60

    # replay contract: re-committing batch 0's rows overwrites, never dups
    b0 = table.scan(spark).filter(F.col("batch_id") == 0)
    table.overwrite_partitions(b0, extra_summary={"stream_batch_id": 0})
    assert table.scan(spark).count() == 60
    assert table.scan(spark).filter(F.col("batch_id") == 0).count() == n1
    all_pages.unpersist()


def test_stream_callback_sink(spark, tmp_path):
    """S9/O10: foreachBatch callback sink — per-batch job summaries land
    in the callbacks table AND reach the driver-side hook."""
    from ocr_endpoint_project_spark.streaming import stream_extract_with_callbacks

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    cb_dir = str(tmp_path / "callbacks")

    pages = corpus_pages(spark, n=40, seed=7).cache()
    pages.write.mode("append").parquet(in_dir)

    received = []
    _await(
        stream_extract_with_callbacks(
            spark, in_dir, out_dir, ckpt, cb_dir,
            num_partitions=8, callback_fn=received.append,
        )
    )

    # data written
    out = spark.read.parquet(out_dir)
    assert out.count() == 40
    # one callback row per micro-batch, counts add up to the corpus
    cbs = spark.read.parquet(cb_dir).collect()
    assert len(cbs) >= 1
    assert sum(r["doc_count"] for r in cbs) == 40
    # the corpus deliberately contains a few failing docs; ok+failed must
    # partition each batch, and status reflects whether failures occurred
    assert all(r["ok_count"] + r["failed_count"] == r["doc_count"] for r in cbs)
    assert sum(r["ok_count"] for r in cbs) == out.filter(
        F.col("status") == "succeeded"
    ).count()
    assert all(
        r["status"] == ("succeeded" if r["failed_count"] == 0 else "partial")
        for r in cbs
    )
    assert all(r["total_cost_usd"] > 0 for r in cbs)
    # the driver-side hook (the reference's webhook POST slot) fired too
    assert [c["doc_count"] for c in received] == [r["doc_count"] for r in cbs]

    # restart with no new input: no duplicate data, no new callbacks
    n_cb = len(cbs)
    _await(
        stream_extract_with_callbacks(
            spark, in_dir, out_dir, ckpt, cb_dir, num_partitions=8,
        )
    )
    assert spark.read.parquet(out_dir).count() == 40
    assert spark.read.parquet(cb_dir).count() == n_cb
    pages.unpersist()


def test_stateful_lang_totals_accumulate_across_restarts(spark, tmp_path):
    """applyInPandasWithState: running per-lang totals survive a stream
    restart via checkpointed group state (the streaming twin of batch
    lineage resume)."""
    from ocr_endpoint_project_spark.streaming.stateful import (
        latest_lang_totals,
        stream_lang_totals,
    )

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    all_pages = corpus_pages(spark, n=60, seed=42).cache()
    batch1 = all_pages.filter(F.col("warc_ts") < F.lit("2024-01-01 00:00:30"))
    batch2 = all_pages.filter(F.col("warc_ts") >= F.lit("2024-01-01 00:00:30"))

    batch1.write.mode("append").parquet(in_dir)
    _await(stream_lang_totals(spark, in_dir, out_dir, ckpt))
    t1 = {r["lang"]: r["n_docs"] for r in latest_lang_totals(spark, out_dir).collect()}
    assert sum(t1.values()) == batch1.count()

    # restart: new files fold into CHECKPOINTED state, not from zero
    batch2.write.mode("append").parquet(in_dir)
    _await(stream_lang_totals(spark, in_dir, out_dir, ckpt))
    final = latest_lang_totals(spark, out_dir)
    t2 = {r["lang"]: r["n_docs"] for r in final.collect()}
    assert sum(t2.values()) == 60
    # totals match a batch groundtruth per lang
    gt = {
        r["lang"]: r["n"]
        for r in all_pages.groupBy(F.coalesce(F.col("lang"), F.lit("und")).alias("lang"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert t2 == gt
    # bytes tracked too
    assert all(r["total_bytes"] > 0 for r in final.collect())
    all_pages.unpersist()


def test_windowed_watermark_drops_late_data(spark, tmp_path):
    """Event-time tumbling windows: a window emits once when the
    watermark passes its end, and events later than the watermark are
    dropped — exactly-once immutable window history."""
    from datetime import datetime

    from ocr_endpoint_project_spark.streaming.windowed import stream_windowed_counts

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def page(ts_s, url):
        return (url, datetime(2024, 1, 1, 0, 0, ts_s % 60, 0).replace(
            minute=ts_s // 60), b"<html><p>hello world page</p></html>", "", "en")

    def write(rows):
        spark.createDataFrame(
            rows, "url string, warc_ts timestamp, html binary, text string, lang string"
        ).write.mode("append").parquet(in_dir)

    # batch 1: 3 events in window [00:00, 01:00) + a sentinel at 05:00
    # that advances the watermark to 04:30 (> 01:00), finalizing window 0
    write([page(1, "a"), page(20, "b"), page(50, "c"), page(300, "w1")])
    _await(stream_windowed_counts(spark, in_dir, out_dir, ckpt))
    out1 = {
        (r["window_start"].minute, r["n_docs"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert (0, 3) in out1  # window 0 finalized with exactly 3 docs

    # batch 2: a LATE event for window 0 (time 00:30 < watermark 04:30 ->
    # dropped) plus events advancing the watermark past window [05:00,06:00)
    write([page(30, "late"), page(310, "w2"), page(700, "w3")])
    _await(stream_windowed_counts(spark, in_dir, out_dir, ckpt))
    rows = spark.read.parquet(out_dir).collect()
    win0 = [r for r in rows if r["window_start"].minute == 0 and r["window_start"].hour == 0]
    # window 0 emitted exactly once and the late event never re-opened it
    assert len(win0) == 1 and win0[0]["n_docs"] == 3
    # the 05:00 window finalized with w1 + w2
    win5 = [r for r in rows if r["window_start"].minute == 5]
    assert len(win5) == 1 and win5[0]["n_docs"] == 2


def test_streaming_lineage_matches_batch_schema(spark, tmp_path):
    """Streaming micro-batches emit the SAME lineage rows as the batch
    path — one audit table, one schema, across both execution modes."""
    from ocr_endpoint_project_spark.pipeline.lineage import run_with_lineage_ice
    from ocr_endpoint_project_spark.streaming import stream_extract_with_callbacks

    pages = corpus_pages(spark, n=30, seed=3).cache()

    # batch mode: the sink's lineage mirror, minus the snapshot it names
    batch_out = str(tmp_path / "batch")
    r = run_with_lineage_ice(spark, pages, batch_out, run_id="run-1", num_partitions=8)
    batch_lin = spark.read.parquet(r["lineage_dir"]).drop("snapshot_id")

    # streaming mode over the same input
    in_dir = str(tmp_path / "in")
    pages.write.mode("append").parquet(in_dir)
    lin_dir = str(tmp_path / "stream_lineage")
    q = stream_extract_with_callbacks(
        spark, in_dir, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        str(tmp_path / "cb"), num_partitions=8, lineage_dir=lin_dir,
    )
    q.awaitTermination(120)
    stream_lin = spark.read.parquet(lin_dir)

    assert stream_lin.schema == batch_lin.schema
    # identical per-partition content facts (counts + order-insensitive
    # checksum) — only run ids and timestamps differ between modes
    keys = ["partition_id", "doc_count", "ok_count", "failed_count", "byte_count", "checksum"]
    b = {tuple(r[k] for k in keys) for r in batch_lin.select(*keys).collect()}
    s = {tuple(r[k] for k in keys) for r in stream_lin.select(*keys).collect()}
    assert b == s
    # run ids are namespaced per query (stable hash of the checkpoint
    # dir), so two queries sharing one lineage_dir can never collide
    assert all("-batch-" in r["run_id"] for r in stream_lin.collect())
    pages.unpersist()


def test_streaming_lineage_replay_idempotent(spark, tmp_path):
    """A restarted query replaying an already-committed micro-batch must
    NOT double-append data or lineage: the run_id (stable checkpoint-hash
    prefix + batch id) is the commit marker, mirroring the batch path's
    resume."""
    from ocr_endpoint_project_spark.streaming import stream_extract_with_callbacks

    pages = corpus_pages(spark, n=20, seed=7).cache()
    in_dir = str(tmp_path / "in")
    pages.write.mode("append").parquet(in_dir)
    out_dir = str(tmp_path / "out")
    lin_dir = str(tmp_path / "lineage")

    calls: list[dict] = []
    q = stream_extract_with_callbacks(
        spark, in_dir, out_dir, str(tmp_path / "ckpt1"), str(tmp_path / "cb"),
        num_partitions=8, lineage_dir=lin_dir, run_prefix="jobA",
        callback_fn=calls.append,
    )
    q.awaitTermination(120)
    n_out = spark.read.parquet(out_dir).count()
    n_lin = spark.read.parquet(lin_dir).count()
    assert n_out == 20 and len(calls) == 1
    assert calls[0]["docs_cumulative"] == 20

    # simulate a restart that replays batch 0: fresh checkpoint, same
    # run_prefix, same input -> the batch's run_id already has lineage,
    # so the handler must skip it entirely
    q2 = stream_extract_with_callbacks(
        spark, in_dir, out_dir, str(tmp_path / "ckpt2"), str(tmp_path / "cb"),
        num_partitions=8, lineage_dir=lin_dir, run_prefix="jobA",
        callback_fn=calls.append,
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == n_out  # no double data
    assert spark.read.parquet(lin_dir).count() == n_lin  # no double lineage
    assert len(calls) == 1  # no duplicate completion callback
    pages.unpersist()
