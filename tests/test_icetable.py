"""Icetable format: snapshots, CAS commits, time travel, scan planning.

The metadata layer under the results sink (``sources/icetable.py``) —
snapshot isolation and time travel are north_rule "Iceberg table"
obligations, so each is exercised directly: commit races, crash windows,
manifest pruning, and the lineage-integrated sink.
"""

from __future__ import annotations

import json
import os
import threading

import pytest
from pyspark.sql import functions as F

from ocr_endpoint_project_spark.sources.icetable import IceTable


def _df(spark, lo, hi, factor=1):
    # repartition on part -> every partition VALUE lives in exactly one
    # task -> exactly one data file per partition per append (the file
    # counts the planning assertions below rely on)
    return (
        spark.range(lo, hi)
        .select(
            F.col("id").alias("k"),
            (F.col("id") * factor).alias("v"),
            F.pmod(F.col("id"), F.lit(4)).cast("int").alias("part"),
        )
        .repartition(4, "part")
    )


def test_append_scan_roundtrip(spark, tmp_path):
    t = IceTable.create(str(tmp_path / "t"), partition_col="part", stat_cols=["k"])
    t.append(_df(spark, 0, 100))
    t.append(_df(spark, 100, 150))
    got = t.scan(spark)
    assert got.count() == 150
    assert set(got.columns) == {"k", "v", "part"}
    assert got.agg(F.sum("k")).collect()[0][0] == sum(range(150))
    assert [s["operation"] for s in t.snapshots()] == ["append", "append"]
    # an append snapshot's summary: exactly the added files' counts
    s = t.snapshots()[-1]["summary"]
    assert sorted(s) == ["added_files", "bytes", "partitions", "rows"]
    assert s["partitions"] == ["0", "1", "2", "3"]
    assert s["rows"] == 50 and s["added_files"] == 4 and s["bytes"] > 0


def test_overwrite_partitions_and_time_travel(spark, tmp_path):
    t = IceTable.create(str(tmp_path / "t"), partition_col="part", stat_cols=["k"])
    s1 = t.append(_df(spark, 0, 100))
    # replace part=1 with doubled values; other partitions untouched
    s2 = t.overwrite_partitions(_df(spark, 0, 100, factor=2).filter("part = 1"))
    assert s2["summary"]["replaced_partitions"] == ["1"]

    latest = t.scan(spark)
    assert latest.count() == 100
    doubled = latest.filter("part = 1").agg(F.sum("v")).collect()[0][0]
    assert doubled == 2 * sum(k for k in range(100) if k % 4 == 1)
    untouched = latest.filter("part = 2").agg(F.sum("v")).collect()[0][0]
    assert untouched == sum(k for k in range(100) if k % 4 == 2)

    # time travel: snapshot 1 still reads the original values
    old = t.scan(spark, snapshot_id=s1["snapshot_id"])
    assert old.filter("part = 1").agg(F.sum("v")).collect()[0][0] == sum(
        k for k in range(100) if k % 4 == 1
    )
    # as-of timestamp resolves the same snapshot
    s1_ms = next(
        s["timestamp_ms"] for s in t.snapshots() if s["snapshot_id"] == s1["snapshot_id"]
    )
    old_ts = t.scan(spark, as_of_ms=s1_ms)
    assert old_ts.agg(F.sum("v")).collect()[0][0] == old.agg(F.sum("v")).collect()[0][0]
    assert s1_ms <= s2["timestamp_ms"]


def test_scan_planning_prunes_manifests_and_files(spark, tmp_path):
    t = IceTable.create(str(tmp_path / "t"), partition_col="part", stat_cols=["k"])
    t.append(_df(spark, 0, 100))     # manifest 1: k in [0, 99]
    t.append(_df(spark, 1000, 1100))  # manifest 2: k in [1000, 1099]
    everything = t.plan_files()
    assert len(everything) == 8  # 4 partitions x 2 appends

    # partition-level pruning drops 3 of 4 partitions
    one_part = t.plan_files(partition_values={3})
    assert len(one_part) == 2
    assert all(e["partition"] == "3" for e in one_part)

    # min/max stats skip the second append's files entirely
    low = t.plan_files(stats_ranges={"k": (0, 500)})
    assert len(low) == 4
    assert all(e["max"]["k"] <= 99 for e in low)
    # and the scan actually computes the right thing on the pruned set
    got = t.scan(spark, stats_ranges={"k": (0, 500)})
    assert got.agg(F.sum("k")).collect()[0][0] == sum(range(100))


def test_crash_before_metadata_commit_is_invisible(spark, tmp_path):
    t = IceTable.create(str(tmp_path / "t"), partition_col="part", stat_cols=[])
    t.append(_df(spark, 0, 40))
    v_before = t.current_version()
    # simulate a writer that staged data files but died before the CAS:
    # stage step only — nothing references the files
    meta = t.metadata()
    t._stage_data(_df(spark, 40, 80), meta, seq=999)
    assert t.current_version() == v_before
    assert t.scan(spark).count() == 40  # orphans never observed
    # and a later real commit still works
    t.append(_df(spark, 40, 60))
    assert t.scan(spark).count() == 60


def test_concurrent_appends_both_commit(spark, tmp_path):
    t = IceTable.create(str(tmp_path / "t"), partition_col="part", stat_cols=[])
    errs: list[Exception] = []

    def _append(lo, hi):
        try:
            IceTable.load(t.table_dir).append(_df(spark, lo, hi))
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [
        threading.Thread(target=_append, args=(0, 50)),
        threading.Thread(target=_append, args=(50, 120)),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errs == []
    assert t.scan(spark).count() == 120  # neither append lost
    assert len(t.snapshots()) == 2
    assert t.current_version() == 3  # create + two serialized commits


def test_cas_loser_retries_against_new_head(spark, tmp_path, monkeypatch):
    """A genuinely lost CAS: an adversary commits between our metadata
    read and our publish — the loser must retry against the new head,
    reusing its already-staged data files."""
    from ocr_endpoint_project_spark.sources.icetable import _LocalIO

    t = IceTable.create(str(tmp_path / "t"), partition_col="part", stat_cols=[])
    t.append(_df(spark, 0, 10))
    v = t.current_version()
    real_cas = _LocalIO.cas_write
    fired = {"n": 0}

    def race_cas(self, dst, data, tmp):
        if fired["n"] == 0:
            fired["n"] += 1
            # adversary claims the version we are about to publish
            meta = t.metadata()
            with open(dst, "w", encoding="utf-8") as f:
                json.dump(meta, f)
        return real_cas(self, dst, data, tmp)

    monkeypatch.setattr(_LocalIO, "cas_write", race_cas)
    t.append(_df(spark, 10, 30))  # loses v+1, must land at v+2
    assert fired["n"] == 1
    assert t.current_version() == v + 2
    assert t.scan(spark).count() == 30


def test_expire_snapshots_removes_history_and_orphans(spark, tmp_path):
    t = IceTable.create(str(tmp_path / "t"), partition_col="part", stat_cols=[])
    t.append(_df(spark, 0, 40))
    t.overwrite_partitions(_df(spark, 0, 40, factor=3).filter("part = 0"))
    n_files_before = sum(len(fs) for _, _, fs in os.walk(t.data_dir))
    res = t.expire_snapshots(keep_last=1)
    # both ids leave the log: the expire snapshot replaces the head
    assert res["summary"]["expired"] == 2
    assert res["summary"]["orphan_files_removed"] > 0
    n_files_after = sum(len(fs) for _, _, fs in os.walk(t.data_dir))
    assert n_files_after < n_files_before
    # current state unchanged by expiry
    got = t.scan(spark)
    assert got.count() == 40
    assert got.filter("part = 0").agg(F.sum("v")).collect()[0][0] == 3 * sum(
        k for k in range(40) if k % 4 == 0
    )
    # expired snapshot ids are gone from the log
    assert len(t.snapshots()) <= 2
    with pytest.raises(ValueError):
        t.scan(spark, snapshot_id=1)


def test_compact_rewrites_fragmented_partitions(spark, tmp_path):
    """Compaction: two appends fragment each partition into two files;
    compact() rewrites them to one file each as a normal snapshot —
    identical data, and time travel still reads the fragmented state."""
    t = IceTable.create(str(tmp_path / "t"), partition_col="part", stat_cols=["k"])
    t.append(_df(spark, 0, 40))
    t.append(_df(spark, 40, 80))
    assert len(t.plan_files()) == 8
    before = t.scan(spark).agg(F.sum("k"), F.sum("v")).collect()[0]

    snap = t.compact(spark)
    assert snap is not None and snap["summary"]["compaction"] is True
    assert len(t.plan_files()) == 4  # one file per partition now
    after = t.scan(spark).agg(F.sum("k"), F.sum("v")).collect()[0]
    assert list(before) == list(after)
    # the pre-compaction snapshot still reads the fragmented files
    assert len(t.plan_files(snapshot_id=2)) == 8
    # nothing left to compact
    assert t.compact(spark) is None


def test_schema_evolution_adds_column_null_filled(spark, tmp_path):
    """Metadata-driven schema evolution: a later append with an added
    column becomes the table schema; OLD files read back with the new
    column NULL — no parquet footer merging involved."""
    t = IceTable.create(str(tmp_path / "t"), partition_col="part", stat_cols=[])
    t.append(_df(spark, 0, 20))
    t.append(_df(spark, 20, 40).withColumn("lang", F.lit("en")))
    got = t.scan(spark)
    assert set(got.columns) == {"k", "v", "part", "lang"}
    assert got.filter(F.col("lang").isNull()).count() == 20
    assert got.filter(F.col("lang") == "en").count() == 20
    # time travel to snapshot 1 also reads with the CURRENT schema
    old = t.scan(spark, snapshot_id=t.snapshots()[0]["snapshot_id"])
    assert "lang" in old.columns
    assert old.filter(F.col("lang").isNull()).count() == 20


def test_unpartitioned_table(spark, tmp_path):
    t = IceTable.create(str(tmp_path / "t"), stat_cols=["k"])
    t.append(_df(spark, 0, 25).drop("part"))
    assert t.scan(spark).count() == 25
    with pytest.raises(ValueError):
        t.overwrite_partitions(_df(spark, 0, 5).drop("part"))


def test_lineage_ice_sink_resume_and_snapshots(spark, tmp_path):
    """The integrated sink: one snapshot per run, resume skips done
    partitions, time travel reads the pre-resume state."""
    from ocr_endpoint_project_spark.pipeline.lineage import (
        run_with_lineage_ice,
        STATUS_SUCCEEDED,
    )
    from ocr_endpoint_project_spark.sources.pages import corpus_pages

    pages = corpus_pages(spark, n=60, seed=7).cache()
    out = str(tmp_path / "job")
    r1 = run_with_lineage_ice(spark, pages.limit(0), out, run_id="r0", num_partitions=8)
    assert r1["snapshot_id"] >= 1  # empty run still commits (0 partitions)

    r2 = run_with_lineage_ice(spark, pages, out, run_id="r1", num_partitions=8)
    table = IceTable.load(r2["table_dir"])
    full = table.scan(spark)
    assert full.count() == 60
    assert {"extracted_text", "partition_id", "url"} <= set(full.columns)

    # all partitions succeeded -> a re-run resumes everything away
    r3 = run_with_lineage_ice(spark, pages, out, run_id="r2", num_partitions=8)
    assert r3["resumed_partitions_skipped"] == 8
    # the no-op run added no rows
    assert table.scan(spark).count() == 60
    # time travel to the r1 snapshot still reads the same 60 docs
    assert table.scan(spark, snapshot_id=r2["snapshot_id"]).count() == 60
    pages.unpersist()


def test_entry_lineage_survives_compact_and_expiry(spark, tmp_path):
    """Each partition's lineage rides in its manifest entry, so it lives
    as long as the partition's files: ``compact`` carries it to the
    rewritten files and ``expire_snapshots`` keeps it with them."""
    from ocr_endpoint_project_spark.pipeline.lineage import (
        lineage_rows,
        run_with_lineage_ice,
    )
    from ocr_endpoint_project_spark.sources.pages import corpus_pages

    pages = corpus_pages(spark, n=40, seed=11)
    r = run_with_lineage_ice(spark, pages, str(tmp_path / "job"), num_partitions=8)
    table = IceTable.load(r["table_dir"])
    old_files = table.plan_files()
    before = {e["partition"]: e["lineage"]["checksum"] for e in old_files}
    assert len(before) == 8

    assert table.compact(spark, min_files=1) is not None
    table.expire_snapshots(keep_last=1)
    files = table.plan_files()
    assert {e["path"] for e in files}.isdisjoint(e["path"] for e in old_files)
    assert all("lineage" in e for e in files)
    assert {e["partition"]: e["lineage"]["checksum"] for e in files} == before
    assert sum(e["lineage"]["doc_count"] for e in files) == table.scan(spark).count() == 40
    # the carried checksums still describe the rewritten rows
    recomputed = lineage_rows(table.scan(spark), "check").collect()
    assert {str(x["partition_id"]): x["checksum"] for x in recomputed} == before


def test_stream_extract_to_icetable_batches(spark, tmp_path):
    """Streaming sink: one snapshot per micro-batch, each in its own
    (query id, batch id) partition, and a re-committed batch REPLACES its
    partition instead of duplicating."""
    from ocr_endpoint_project_spark.sources.pages import corpus_pages
    from ocr_endpoint_project_spark.streaming import stream_extract

    in_dir = str(tmp_path / "in")
    pages = corpus_pages(spark, n=30, seed=3).cache()
    pages.filter(F.col("url").isNotNull()).limit(15).repartition(1).write.mode(
        "append"
    ).parquet(in_dir)
    pages.subtract(spark.read.parquet(in_dir)).repartition(1).write.mode(
        "append"
    ).parquet(in_dir)

    q = stream_extract(
        spark,
        in_dir,
        str(tmp_path / "table"),
        str(tmp_path / "ckpt"),
        num_partitions=4,
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)

    t = IceTable.load(str(tmp_path / "table"))
    got = t.scan(spark)
    assert got.count() == 30
    batches = [s for s in t.snapshots() if "stream_batch_id" in s["summary"]]
    assert len(batches) >= 2  # maxFilesPerTrigger=1 over >=2 input files
    assert {"extracted_text", "batch_id"} <= set(got.columns)

    # replay contract: re-committing batch 0's rows overwrites, never dups
    b0 = got.filter(F.col("batch_id") == 0)
    n_b0 = b0.count()
    assert n_b0 > 0
    t.overwrite_partitions(b0, extra_summary={"stream_batch_id": 0})
    assert t.scan(spark).count() == 30
    assert t.scan(spark).filter(F.col("batch_id") == 0).count() == n_b0
    pages.unpersist()


def test_merge_copy_on_write_upsert(spark, tmp_path):
    """MERGE: matched keys replaced, unmatched carried over, untouched
    partitions' data files reused verbatim (no rewrite)."""
    t = IceTable.create(str(tmp_path / "t"), partition_col="part", stat_cols=["k"])
    t.append(_df(spark, 0, 40))
    files_before = {e["path"] for e in t.plan_files(partition_values={2})}

    # upsert: k=1 and k=5 (part 1) get v=-1; k=1001 (part 1) is new
    incoming = spark.createDataFrame(
        [(1, -1, 1), (5, -1, 1), (1001, -1, 1)], "k long, v long, part int"
    )
    snap = t.merge(spark, incoming, key_cols=["k"])
    assert snap["summary"]["merge_keys"] == ["k"]
    assert snap["summary"]["replaced_partitions"] == ["1"]

    got = t.scan(spark)
    assert got.count() == 41  # 40 original + 1 inserted
    assert got.filter("k in (1, 5, 1001)").agg(F.sum("v")).collect()[0][0] == -3
    # unmatched rows of the touched partition carried over untouched
    assert got.filter("k = 9").select("v").collect()[0][0] == 9
    # untouched partition reuses the exact same data files
    files_after = {e["path"] for e in t.plan_files(partition_values={2})}
    assert files_after == files_before
    # and the pre-merge snapshot still reads the original 40 rows
    assert t.scan(spark, snapshot_id=1).count() == 40


def test_incremental_scan_reads_only_new_appends(spark, tmp_path):
    t = IceTable.create(str(tmp_path / "t"), partition_col="part", stat_cols=["k"])
    s1 = t.append(_df(spark, 0, 100))
    s2 = t.append(_df(spark, 100, 150))
    t.append(_df(spark, 150, 180))
    # (s1, current]: only the rows of appends 2 and 3
    inc = t.incremental_scan(spark, from_snapshot_id=s1["snapshot_id"])
    rows = inc.collect()
    assert {r.k for r in rows} == set(range(100, 180))
    # each row is tagged with its committing snapshot
    by_snap = {}
    for r in rows:
        by_snap.setdefault(r._commit_snapshot_id, set()).add(r.k)
    assert by_snap[s2["snapshot_id"]] == set(range(100, 150))
    # bounded upper end: (s1, s2] sees only append 2
    mid = t.incremental_scan(
        spark, from_snapshot_id=s1["snapshot_id"], to_snapshot_id=s2["snapshot_id"]
    )
    assert {r.k for r in mid.collect()} == set(range(100, 150))
    # from=None replays from the beginning
    assert t.incremental_scan(spark, from_snapshot_id=None).count() == 180


def test_incremental_scan_attributes_snapshots(spark, tmp_path):
    """Read from the start of history, every row carries the snapshot
    that added its file, next to the reconstituted partition column."""
    t = IceTable.create(str(tmp_path / "t"), partition_col="part", stat_cols=["k"])
    t.append(_df(spark, 0, 50))
    t.append(_df(spark, 50, 80))
    got = t.incremental_scan(spark, from_snapshot_id=None)
    assert sorted(r.k for r in got.collect()) == list(range(80))
    attr = {
        r._commit_snapshot_id: r["count"]
        for r in got.groupBy("_commit_snapshot_id").count().collect()
    }
    assert attr == {1: 50, 2: 30}
    assert got.schema["part"].dataType.simpleString() == "int"
    assert got.filter("k % 4 != part").count() == 0
    assert got.drop("_commit_snapshot_id").subtract(t.scan(spark)).count() == 0


def test_tagged_reads_are_one_scan(spark, tmp_path):
    """incremental_scan / changelog_scan read every file in ONE parquet
    scan and tag rows by file, also for hive-escaped partition values
    and for a file listed under two tags (inserted, later deleted)."""
    t = IceTable.create(str(tmp_path / "t"), partition_col="host", stat_cols=["k"])
    hosts = ["a b/c:d", "x+y", "plain"]
    snaps = [
        t.append(
            spark.createDataFrame(
                [(i * 10 + j, h) for j, h in enumerate(hosts)], "k int, host string"
            )
        )["snapshot_id"]
        for i in range(3)
    ]
    inc = t.incremental_scan(spark, from_snapshot_id=None)
    plan = inc._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1, plan
    got = {(r.k, r.host, r._commit_snapshot_id) for r in inc.collect()}
    assert got == {
        (i * 10 + j, h, snaps[i]) for i in range(3) for j, h in enumerate(hosts)
    }

    s4 = t.overwrite_partitions(
        spark.createDataFrame([(99, "a b/c:d")], "k int, host string")
    )["snapshot_id"]
    ch = t.changelog_scan(spark, from_snapshot_id=None)
    plan = ch._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1, plan
    rows = {(r.k, r._change_type, r._commit_snapshot_id) for r in ch.collect()}
    assert (0, "insert", snaps[0]) in rows and (0, "delete", s4) in rows
    assert (99, "insert", s4) in rows
    assert len(rows) == 9 + 3 + 1


def test_incremental_scan_refuses_overwrites(spark, tmp_path):
    t = IceTable.create(str(tmp_path / "t"), partition_col="part", stat_cols=["k"])
    s1 = t.append(_df(spark, 0, 100))
    t.overwrite_partitions(
        _df(spark, 0, 100, factor=2).filter(F.col("part") == 1)
    )
    with pytest.raises(ValueError, match="changelog_scan"):
        t.incremental_scan(spark, from_snapshot_id=s1["snapshot_id"])


def test_changelog_scan_emits_cow_delete_insert(spark, tmp_path):
    t = IceTable.create(str(tmp_path / "t"), partition_col="part", stat_cols=["k"])
    s1 = t.append(_df(spark, 0, 100))
    s2 = t.overwrite_partitions(
        _df(spark, 0, 100, factor=2).filter(F.col("part") == 1)
    )
    ch = t.changelog_scan(spark, from_snapshot_id=s1["snapshot_id"]).collect()
    ins = {(r.k, r.v) for r in ch if r._change_type == "insert"}
    dels = {(r.k, r.v) for r in ch if r._change_type == "delete"}
    part1 = {k for k in range(100) if k % 4 == 1}
    assert ins == {(k, 2 * k) for k in part1}
    assert dels == {(k, k) for k in part1}
    assert {r._commit_snapshot_id for r in ch} == {s2["snapshot_id"]}
    # an append in the range shows up as pure inserts
    s3 = t.append(_df(spark, 100, 120))
    ch2 = t.changelog_scan(spark, from_snapshot_id=s2["snapshot_id"]).collect()
    assert all(r._change_type == "insert" for r in ch2)
    assert {r.k for r in ch2} == set(range(100, 120))


def test_changelog_across_expire_is_metadata_only(spark, tmp_path):
    """An expire snapshot in the changelog range emits no row images (its
    parent is trimmed from the log; the logical table is unchanged), and
    a diff against an expired snapshot id fails cleanly."""
    t = IceTable.create(str(tmp_path / "t"), partition_col="part", stat_cols=["k"])
    s1 = t.append(_df(spark, 0, 40))
    t.append(_df(spark, 40, 60))
    exp = t.expire_snapshots(keep_last=1)
    t.append(_df(spark, 60, 70))
    # range crossing the expire entry: expire itself emits no row images
    ch = t.changelog_scan(spark, from_snapshot_id=None).collect()
    assert all(r._change_type == "insert" for r in ch)
    assert {r.k for r in ch} == set(range(60, 70))
    assert {r._commit_snapshot_id for r in ch} != {exp["snapshot_id"]}
    # an expired snapshot id fails with a clear error, not StopIteration
    with pytest.raises(ValueError):
        t.changelog_scan(spark, from_snapshot_id=s1["snapshot_id"]).collect()


def test_sorted_compaction_tightens_file_skipping(spark, tmp_path):
    """Sort-order rewrite: interleaved appends give every file the full
    key range (min/max skipping prunes nothing); compaction sorted on
    the stat column leaves one tight-range file per partition, so a
    range scan plans fewer files."""
    t = IceTable.create(str(tmp_path / "t"), partition_col="part", stat_cols=["k"])
    # two appends with fully interleaved k (evens, then odds) in ONE
    # partition value: every file spans ~[0, 99]
    for lo in (0, 1):
        t.append(
            spark.range(0, 50)
            .selectExpr(f"id * 2 + {lo} AS k", "id AS v", "CAST(0 AS INT) AS part")
            .repartition(1)
        )
    # before compaction: a narrow k range still touches EVERY file
    pre = t.plan_files(stats_ranges={"k": (90, 99)})
    assert len(pre) == 2
    t.compact(spark, files_per_partition=4)  # sort_by defaults to stat_cols
    all_files = t.plan_files()
    assert len(all_files) == 4
    post = t.plan_files(stats_ranges={"k": (90, 99)})
    assert len(post) == 1  # only the top range slice survives
    # slices are disjoint: each file covers ~25 keys
    spans = sorted((e["min"]["k"], e["max"]["k"]) for e in all_files)
    for (a_lo, a_hi), (b_lo, b_hi) in zip(spans, spans[1:]):
        assert a_hi < b_lo
    # a range below every row prunes everything
    assert t.plan_files(stats_ranges={"k": (1000, None)}) == []
    # contents unchanged
    assert {r.k for r in t.scan(spark).collect()} == set(range(100))


def test_expire_crash_between_commit_and_cleanup(spark, tmp_path, monkeypatch):
    """expire_snapshots is two-phase: (1) CAS-commit the trimmed log,
    (2) delete unreferenced files.  A crash between the phases must
    leave EXTRA files, never missing ones — every snapshot in the
    committed metadata stays readable — and the cleanup must be an
    idempotent re-runnable step."""
    t = IceTable.create(str(tmp_path / "t"), partition_col="part", stat_cols=["k"])
    t.append(_df(spark, 0, 40))                                    # snap 1
    s2 = t.overwrite_partitions(_df(spark, 0, 40, factor=3).filter("part = 0"))
    t.append(_df(spark, 40, 60))                                   # snap 3
    n_files_before = sum(len(fs) for _, _, fs in os.walk(t.data_dir))

    real_cleanup = IceTable.remove_orphan_files

    def crash(self):
        raise RuntimeError("injected crash after expire commit")

    monkeypatch.setattr(IceTable, "remove_orphan_files", crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        t.expire_snapshots(keep_last=2)
    monkeypatch.setattr(IceTable, "remove_orphan_files", real_cleanup)

    # the expire COMMIT landed (snap 1 trimmed from the log)...
    ops = [s["operation"] for s in t.snapshots()]
    assert ops[-1] == "expire"
    with pytest.raises(ValueError):
        t.plan_files(snapshot_id=1)
    # ...but NO file was deleted: the crash window leaves orphans only
    assert sum(len(fs) for _, _, fs in os.walk(t.data_dir)) == n_files_before
    # every snapshot the committed metadata references still reads
    assert t.scan(spark).count() == 60
    assert t.scan(spark, snapshot_id=s2["snapshot_id"]).count() == 40
    # phase 2 re-run: removes exactly the unreferenced files, table intact
    removed = t.remove_orphan_files()
    assert removed > 0
    assert t.scan(spark).count() == 60
    assert t.scan(spark, snapshot_id=s2["snapshot_id"]).count() == 40
    # idempotent: a second run finds nothing left to delete
    assert t.remove_orphan_files() == 0


def test_orphan_cleanup_checks_every_path_before_deleting(tmp_path, monkeypatch):
    """A foreign path anywhere in the listing aborts cleanup before ANY
    delete — including orphans listed ahead of it."""
    t = IceTable.create(str(tmp_path / "t"), partition_col="part", stat_cols=[])
    orphan = os.path.join(t.data_dir, "part=0", "orphan.parquet")
    os.makedirs(os.path.dirname(orphan), exist_ok=True)
    with open(orphan, "wb") as f:
        f.write(b"x")
    foreign = str(tmp_path / "elsewhere" / "other.parquet")
    monkeypatch.setattr(t.io, "list_files", lambda path: iter([orphan, foreign]))
    with pytest.raises(RuntimeError, match="refusing cleanup"):
        t.remove_orphan_files()
    assert os.path.exists(orphan)


def test_stage_data_unescapes_hive_partition_values(spark, tmp_path):
    """Spark %XX-escapes special chars in hive partition dirs; the
    manifest must record the UNescaped column value or string-partition
    pruning would compare escaped vs actual and wrongly skip files."""
    t = IceTable.create(str(tmp_path / "t"), partition_col="host", stat_cols=[])
    df = spark.createDataFrame(
        [(1, "a b/c:d"), (2, "plain.example")], "k int, host string"
    ).repartition(2, "host")
    t.append(df)
    vals = {e["partition"] for e in t.plan_files()}
    assert vals == {"a b/c:d", "plain.example"}
    got = t.scan(spark, partition_values={"a b/c:d"})
    assert [r.k for r in got.collect()] == [1]
    assert got.collect()[0].host == "a b/c:d"


def test_ice_sink_lineage_in_summary_and_log_resume(spark, tmp_path):
    """r6 VERDICT #6: lineage rides in the snapshot summary (atomic with
    the data commit), and resume and progress derive from the table's
    current snapshot — there is no side table to lose."""
    from ocr_endpoint_project_spark.pipeline.lineage import (
        ice_done_partitions,
        job_progress,
        run_with_lineage_ice,
    )
    from ocr_endpoint_project_spark.sources.pages import corpus_pages

    pages = corpus_pages(spark, n=40, seed=11).cache()
    out = str(tmp_path / "job")
    r1 = run_with_lineage_ice(spark, pages, out, run_id="rA", num_partitions=8)
    table = IceTable.load(r1["table_dir"])
    s = table.snapshots()[-1]["summary"]
    # lineage committed atomically with the data
    assert s["run_id"] == "rA"
    assert s["partitions_total"] == 8
    assert s["lineage"]["doc_count"] == 40
    assert s["lineage"]["ok_count"] + s["lineage"]["failed_count"] == 40
    assert s["lineage"]["byte_count"] > 0
    assert len(s["lineage"]["checksum"]) == 32
    assert s["started_at"] < s["finished_at"]
    # resume and progress come from the table's metadata
    assert ice_done_partitions(table) == list(range(8))
    p = job_progress(r1["table_dir"])
    assert p["stage"] == "completed" and p["percent"] == 100.0
    assert p["partitions_done"] == 8 and p["partitions_total"] == 8
    assert p["docs_done"] == 40
    r2 = run_with_lineage_ice(spark, pages, out, run_id="rB", num_partitions=8)
    assert r2["resumed_partitions_skipped"] == 8
    assert table.scan(spark).count() == 40
    # the all-resumed run still committed a (0-partition) snapshot with
    # its own lineage record
    s2 = table.snapshots()[-1]["summary"]
    assert s2["run_id"] == "rB" and s2["lineage"]["doc_count"] == 0
    pages.unpersist()


def test_ice_sink_resume_survives_snapshot_expiry(spark, tmp_path):
    """Resume reads the current snapshot's live files, not the snapshot
    history: after ``expire_snapshots`` trims the history of a finished
    run, a rerun still skips every partition and commits no docs."""
    from ocr_endpoint_project_spark.pipeline.lineage import run_with_lineage_ice
    from ocr_endpoint_project_spark.sources.pages import corpus_pages

    pages = corpus_pages(spark, n=40, seed=11).cache()
    out = str(tmp_path / "job")
    r1 = run_with_lineage_ice(spark, pages, out, run_id="rA", num_partitions=8)
    table = IceTable.load(r1["table_dir"])
    table.expire_snapshots(keep_last=1)

    r2 = run_with_lineage_ice(spark, pages, out, run_id="rB", num_partitions=8)
    assert r2["resumed_partitions_skipped"] == 8
    s = table.snapshots()[-1]["summary"]
    assert s["run_id"] == "rB" and s["lineage"]["doc_count"] == 0
    assert table.scan(spark).count() == 40
    pages.unpersist()
