"""Icetable as a Spark Python Data Source: batch scan parity, snapshot-id
offsets, checkpointed exactly-once restart, non-append policy."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_endpoint_project_spark.sources.icetable import IceTable
from ocr_endpoint_project_spark.sources.icetable_source import (
    IcetableDataSource,
    register_icetable,
)


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register_icetable(spark)


def _df(spark, lo, hi, factor=10):
    return (
        spark.range(lo, hi)
        .select(
            F.col("id").alias("k"),
            (F.col("id") * factor).alias("v"),
            F.pmod(F.col("id"), F.lit(4)).cast("int").alias("part"),
        )
        .repartition(4, "part")
    )


def _drain(stream_df, ckpt, sink):
    q = (
        stream_df.writeStream.foreachBatch(
            lambda bdf, bid: sink.extend(bdf.collect())
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def test_batch_read_matches_scan_and_attributes_snapshots(spark, tmp_path):
    tdir = str(tmp_path / "t")
    t = IceTable.create(tdir, partition_col="part", stat_cols=["k"])
    t.append(_df(spark, 0, 50))
    t.append(_df(spark, 50, 80))
    got = spark.read.format("icetable").option("path", tdir).load()
    assert got.count() == 80
    assert {r.k for r in got.collect()} == set(range(80))
    # rows carry the snapshot that added their file
    attr = {
        r._commit_snapshot_id: r["count"]
        for r in got.groupBy("_commit_snapshot_id").count().collect()
    }
    assert attr == {1: 50, 2: 30}
    # partition column reconstituted with the right type and values
    assert got.schema["part"].dataType.simpleString() == "int"
    assert got.filter("k % 4 != part").count() == 0


def test_stream_resumes_from_checkpoint_exactly_once(spark, tmp_path):
    tdir = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    t = IceTable.create(tdir, partition_col="part", stat_cols=["k"])
    t.append(_df(spark, 0, 40))
    first: list = []
    _drain(
        spark.readStream.format("icetable").option("path", tdir).load(),
        ckpt,
        first,
    )
    assert {r.k for r in first} == set(range(40))
    # two more appends, then RESTART from the same checkpoint: only the
    # new snapshots' rows may appear, each tagged with its snapshot
    s2 = t.append(_df(spark, 40, 60))
    s3 = t.append(_df(spark, 60, 70))
    second: list = []
    _drain(
        spark.readStream.format("icetable").option("path", tdir).load(),
        ckpt,
        second,
    )
    assert {r.k for r in second} == set(range(40, 70))
    tags = {r.k: r._commit_snapshot_id for r in second}
    assert all(tags[k] == s2["snapshot_id"] for k in range(40, 60))
    assert all(tags[k] == s3["snapshot_id"] for k in range(60, 70))
    # nothing new -> a third drain emits zero rows
    third: list = []
    _drain(
        spark.readStream.format("icetable").option("path", tdir).load(),
        ckpt,
        third,
    )
    assert third == []


def test_stream_starting_snapshot_and_non_append_policy(spark, tmp_path):
    tdir = str(tmp_path / "t")
    t = IceTable.create(tdir, partition_col="part", stat_cols=["k"])
    s1 = t.append(_df(spark, 0, 40))
    t.overwrite_partitions(_df(spark, 0, 40, factor=2).filter(F.col("part") == 1))
    t.append(_df(spark, 40, 50))
    # default policy: the overwrite snapshot in range fails the stream
    strict: list = []
    with pytest.raises(Exception, match="non-append"):
        _drain(
            spark.readStream.format("icetable")
            .option("path", tdir)
            .option("startingSnapshotId", s1["snapshot_id"])
            .load(),
            str(tmp_path / "c1"),
            strict,
        )
    # skipNonAppend: overwrite skipped whole, appends still flow
    skipped: list = []
    _drain(
        spark.readStream.format("icetable")
        .option("path", tdir)
        .option("startingSnapshotId", s1["snapshot_id"])
        .option("skipNonAppend", "true")
        .load(),
        str(tmp_path / "c2"),
        skipped,
    )
    assert {r.k for r in skipped} == set(range(40, 50))


def test_batch_read_null_fills_evolved_schema(spark, tmp_path):
    tdir = str(tmp_path / "t")
    t = IceTable.create(tdir, partition_col="part", stat_cols=["k"])
    t.append(_df(spark, 0, 20))
    with_extra = _df(spark, 20, 30).withColumn("note", F.concat(F.lit("n"), F.col("k")))
    t.append(with_extra)
    got = spark.read.format("icetable").option("path", tdir).load()
    assert "note" in got.columns
    notes = {r.k: r.note for r in got.collect()}
    assert all(notes[k] is None for k in range(20))
    assert all(notes[k] == f"n{k}" for k in range(20, 30))


def test_batch_reader_filter_pushdown_prunes_files(spark, tmp_path):
    """Catalyst filters reach the metadata layer: partition equality
    prunes manifests, stat-column ranges skip files by footer min/max —
    observed directly at the reader's partitions() plan."""
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual

    from ocr_endpoint_project_spark.sources.icetable_source import (
        IcetableBatchReader,
    )

    tdir = str(tmp_path / "t")
    t = IceTable.create(tdir, partition_col="part", stat_cols=["k"])
    t.append(_df(spark, 0, 40))     # 4 files (one per part), k in [0,39]
    t.append(_df(spark, 40, 80))    # 4 more, k in [40,79]
    schema = spark.read.format("icetable").option("path", tdir).load().schema

    no_filter = IcetableBatchReader(schema, {"path": tdir})
    assert len(no_filter.partitions()) == 8

    r = IcetableBatchReader(schema, {"path": tdir})
    leftover = list(r.pushFilters([EqualTo(("part",), 1), GreaterThanOrEqual(("k",), 40)]))
    assert len(leftover) == 2  # pruning only; Spark re-applies both
    planned = r.partitions()
    assert len(planned) == 1  # part=1 AND second append only
    assert all(p.part_value == "1" for p in planned)

    # e2e: the same filters through SQL give the right rows
    got = (
        spark.read.format("icetable")
        .option("path", tdir)
        .load()
        .filter("part = 1 AND k >= 40")
        .collect()
    )
    assert {r_.k for r_ in got} == {k for k in range(40, 80) if k % 4 == 1}


def test_stream_rate_limit_bounds_batches(spark, tmp_path):
    """maxSnapshotsPerTrigger bounds STEADY-STATE batches: the first
    offset cycle of a (re)started query is deliberately uncapped (the
    runner asks for latestOffset before any checkpoint-derived base is
    visible; capping from the stale initial base could regress below a
    restarted query's checkpointed offset — the r6 ADVICE bug), then the
    cap binds for every subsequent trigger."""
    import time

    tdir = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    t = IceTable.create(tdir, partition_col="part", stat_cols=["k"])
    s = [t.append(_df(spark, i * 10, (i + 1) * 10)) for i in range(2)]
    batches: list = []
    q = (
        spark.readStream.format("icetable")
        .option("path", tdir)
        .option("maxSnapshotsPerTrigger", "1")
        .load()
        .writeStream.foreachBatch(
            lambda bdf, bid: batches.append(
                sorted({r._commit_snapshot_id for r in bdf.collect()})
            )
        )
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="2 seconds")
        .start()
    )
    deadline = time.time() + 60
    while time.time() < deadline and not [b for b in batches if b]:
        time.sleep(0.5)
    # initial catch-up batch: uncapped by design (see reader docstring)
    assert [b for b in batches if b][0] == [1, 2]
    # build a backlog while the query is live: the cap now bounds each
    # micro-batch to one snapshot, drained in order
    s += [t.append(_df(spark, (i + 2) * 10, (i + 3) * 10)) for i in range(3)]
    deadline = time.time() + 120
    while time.time() < deadline and len([b for b in batches if b]) < 4:
        time.sleep(1)
    q.stop()
    q.awaitTermination(60)
    non_empty = [b for b in batches if b]
    assert non_empty[1:4] == [[3], [4], [5]]


def test_stream_reader_restart_cap_never_regresses(spark, tmp_path):
    """Regression (r6 ADVICE): a restarted query builds a FRESH reader
    whose cap base was startingsnapshotid (0), so with
    maxSnapshotsPerTrigger the first latestOffset() could return an
    offset BELOW the checkpointed start — Spark would record the
    regression and re-plan already-processed snapshots.  The cap must
    not apply until the base is a checkpoint-derived offset, and the
    offset must never move backwards."""
    from ocr_endpoint_project_spark.sources.icetable_source import (
        IcetableStreamReader,
    )

    tdir = str(tmp_path / "t")
    t = IceTable.create(tdir, partition_col="part", stat_cols=["k"])
    snaps = [t.append(_df(spark, i * 10, (i + 1) * 10)) for i in range(5)]
    head = snaps[-1]["snapshot_id"]

    # restarted query: fresh instance, initialOffset NOT called (the
    # checkpoint has offsets), checkpointed start = snapshot 3
    r = IcetableStreamReader(None, {"path": tdir, "maxsnapshotspertrigger": "1"})
    off = r.latestOffset()
    # old bug: min(head, 0 + 1) = 1 < 3 (regressed). Now: true head.
    assert off["snapshot_id"] == head
    parts = r.partitions({"snapshot_id": 3}, off)
    assert {p.snapshot_id for p in parts} == {4, 5}
    # once synced, the cap applies from the real base again
    t.append(_df(spark, 50, 60))
    t.append(_df(spark, 60, 70))
    off2 = r.latestOffset()
    assert off2["snapshot_id"] == head + 1  # capped: one snapshot ahead
    # and a fresh-query reader (initialOffset called) caps from _start
    r2 = IcetableStreamReader(None, {"path": tdir, "maxsnapshotspertrigger": "2"})
    assert r2.initialOffset() == {"snapshot_id": 0}
    assert r2.latestOffset()["snapshot_id"] == 2
    # commit() also syncs the base
    r3 = IcetableStreamReader(None, {"path": tdir, "maxsnapshotspertrigger": "1"})
    r3.commit({"snapshot_id": 6})
    assert r3.latestOffset()["snapshot_id"] == 7
