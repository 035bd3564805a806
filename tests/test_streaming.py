"""Structured Streaming incremental extraction: exactly-once per input
file via checkpoint, byte-identity preserved through the stream path."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from ocr_endpoint_project_spark.sources.icetable import IceTable
from ocr_endpoint_project_spark.sources.pages import corpus_pages
from ocr_endpoint_project_spark.streaming import stream_extract


def _await(q):
    assert q.awaitTermination(120), "stream did not finish within 120 s"


def _snapshot_summaries(table_dir):
    return [s["summary"] for s in IceTable.load(table_dir).snapshots()]


def _job_summaries(table_dir):
    """The per-micro-batch job summaries, in commit order."""
    return [s["lineage"] for s in _snapshot_summaries(table_dir)]


def test_stream_extract_incremental(spark, tmp_path):
    """Each restart commits only the new files, one icetable snapshot per
    micro-batch, each in its own (query id, batch id) partition; a
    re-committed batch REPLACES its partition instead of duplicating it."""
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
    """S9/O10: each micro-batch's job summary rides in the snapshot that
    commits its rows, and the driver-side hook receives it after the
    commit."""
    in_dir = str(tmp_path / "in")
    table_dir = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    pages = corpus_pages(spark, n=40, seed=7).cache()
    pages.write.mode("append").parquet(in_dir)

    received = []
    _await(
        stream_extract(
            spark, in_dir, table_dir, ckpt,
            num_partitions=8, callback_fn=received.append,
        )
    )

    # data written
    table = IceTable.load(table_dir)
    out = table.scan(spark)
    assert out.count() == 40
    # one summary per micro-batch, counts add up to the corpus
    cbs = _job_summaries(table_dir)
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
    # the driver-side hook (the reference's webhook POST slot) received
    # the committed summaries, in order
    assert received == cbs

    # restart with no new input: no duplicate data, no new summaries
    n_cb = len(cbs)
    _await(
        stream_extract(
            spark, in_dir, table_dir, ckpt,
            num_partitions=8, callback_fn=received.append,
        )
    )
    assert table.scan(spark).count() == 40
    assert len(table.snapshots()) == n_cb
    assert len(received) == n_cb
    pages.unpersist()


def test_stream_queries_share_one_table(spark, tmp_path):
    """Two queries with different checkpoints write into one table. Each
    one's first micro-batch is batch 0, yet neither replaces the other's
    rows: the batch key carries the query id. Run one after the other,
    then both at once (the table's CAS serializes the two sinks'
    commits)."""
    pages = corpus_pages(spark, n=40, seed=7).cache()
    urls = sorted(r.url for r in pages.select("url").collect())
    in_dirs = [str(tmp_path / f"in{i}") for i in range(2)]
    for in_dir, half in zip(in_dirs, (urls[:20], urls[20:])):
        pages.filter(F.col("url").isin(half)).write.parquet(in_dir)

    for mode in ("sequential", "concurrent"):
        table_dir = str(tmp_path / mode)
        queries = []
        for i, in_dir in enumerate(in_dirs):
            q = stream_extract(
                spark, in_dir, table_dir, str(tmp_path / f"ckpt-{mode}-{i}"),
                num_partitions=8,
            )
            if mode == "sequential":
                _await(q)
            queries.append(q)
        for q in queries:
            _await(q)
        out = IceTable.load(table_dir).scan(spark)
        assert out.count() == 40, mode
        assert out.select("url").distinct().count() == 40, mode
        batch_ids = [s["stream_batch_id"] for s in _snapshot_summaries(table_dir)]
        assert batch_ids == [0, 0], mode

    # a table keyed any other way (a stream table keyed on the bare batch
    # id) is refused before the query starts
    IceTable.create(str(tmp_path / "old"), partition_col="batch_id", stat_cols=["url"])
    with pytest.raises(ValueError, match="batch_key"):
        stream_extract(spark, in_dirs[0], str(tmp_path / "old"), str(tmp_path / "ckpt-old"))
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
    """A streaming micro-batch's job summary carries the SAME lineage
    facts as the batch sink's snapshot — one summary schema across both
    execution modes."""
    from ocr_endpoint_project_spark.pipeline.lineage import run_with_lineage_ice

    pages = corpus_pages(spark, n=30, seed=3).cache()

    # batch mode: the run's lineage summary in its snapshot
    r = run_with_lineage_ice(
        spark, pages, str(tmp_path / "batch"), run_id="run-1", num_partitions=8
    )
    batch = IceTable.load(r["table_dir"]).snapshots()[-1]["summary"]["lineage"]

    # streaming mode over the same input, all of it in one micro-batch
    in_dir = str(tmp_path / "in")
    table_dir = str(tmp_path / "table")
    pages.write.mode("append").parquet(in_dir)
    _await(stream_extract(spark, in_dir, table_dir, str(tmp_path / "ckpt"), num_partitions=8))
    (stream,) = _job_summaries(table_dir)

    # identical content facts (counts + order-insensitive checksum)
    keys = ["doc_count", "ok_count", "failed_count", "byte_count", "checksum"]
    assert {k: stream[k] for k in keys} == {k: batch[k] for k in keys}
    assert stream["doc_count"] == 30
    assert stream["total_cost_usd"] == pytest.approx(batch["total_cost_usd"])
    pages.unpersist()


def test_streaming_lineage_replay_idempotent(spark, tmp_path):
    """A restarted query replaying an already-committed micro-batch (a
    crash after the table commit, before the checkpoint commit) must not
    commit it again: its (query id, batch id) key is already live, so the
    replay stages, commits and calls back nothing."""
    pages = corpus_pages(spark, n=20, seed=7).cache()
    in_dir = str(tmp_path / "in")
    pages.write.mode("append").parquet(in_dir)
    table_dir = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    calls: list[dict] = []
    _await(stream_extract(
        spark, in_dir, table_dir, ckpt, num_partitions=8, callback_fn=calls.append
    ))
    table = IceTable.load(table_dir)
    assert table.scan(spark).count() == 20 and len(calls) == 1
    assert calls[0]["docs_cumulative"] == 20

    # the checkpoint forgets that batch 0 committed: the restart on the
    # SAME checkpoint replays it (same query id, same batch id)
    commit0 = os.path.join(ckpt, "commits", "0")
    os.remove(commit0)
    os.remove(os.path.join(ckpt, "commits", ".0.crc"))
    _await(stream_extract(
        spark, in_dir, table_dir, ckpt, num_partitions=8, callback_fn=calls.append
    ))
    assert os.path.exists(commit0)  # the replay ran and was acknowledged
    assert table.scan(spark).count() == 20  # no double data
    batch0 = [s for s in _snapshot_summaries(table_dir) if s["stream_batch_id"] == 0]
    assert len(batch0) == 1  # no second summary snapshot
    assert len(calls) == 1  # no duplicate completion callback
    pages.unpersist()
