"""Icetable on the Hadoop FileSystem API (r7, VERDICT #2): the same
table lifecycle, but with a ``file:`` URI table dir so every metadata
and staging operation goes through ``_HadoopIO`` (py4j -> JVM
``org.apache.hadoop.fs``) — the code path an ``hdfs://`` or ``s3a://``
deployment exercises, minus only the object-store-specific CAS caveat
documented on the class."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_endpoint_project_spark.sources.icetable import (
    IceTable,
    _HadoopIO,
    _io_for,
    _LocalIO,
)


def _df(spark, lo, hi, factor=1):
    return (
        spark.range(lo, hi)
        .select(
            F.col("id").alias("k"),
            (F.col("id") * factor).alias("v"),
            F.pmod(F.col("id"), F.lit(4)).cast("int").alias("part"),
        )
        .repartition(4, "part")
    )


def test_io_backend_selection(spark):
    from ocr_endpoint_project_spark.sources.icetable import _URI_RE

    assert isinstance(_io_for("/plain/path"), _LocalIO)
    assert isinstance(_io_for("file:/plain/path"), _HadoopIO)
    # scheme detection (instantiating hdfs:// would try to connect)
    assert _URI_RE.match("hdfs://nn:8020/x")
    assert _URI_RE.match("s3a://bucket/x")
    assert not _URI_RE.match("/plain/path")


def test_lifecycle_on_file_uri(spark, tmp_path):
    """create / append / overwrite / time-travel / plan_files pruning,
    all through the Hadoop FS client."""
    tdir = "file:" + str(tmp_path / "t")
    t = IceTable.create(tdir, partition_col="part", stat_cols=["k"])
    assert isinstance(t.io, _HadoopIO)

    s1 = t.append(_df(spark, 0, 40))
    t.append(_df(spark, 40, 60))
    assert t.scan(spark).count() == 60
    assert {r.k for r in t.scan(spark, partition_values={1}).collect()} == {
        k for k in range(60) if k % 4 == 1
    }

    # dynamic partition overwrite + time travel across it: part 0 had 15
    # rows (k in 0..56 step 4), replaced by the 10 rows of range(0,40)
    t.overwrite_partitions(_df(spark, 0, 40, factor=3).filter("part = 0"))
    got = t.scan(spark)
    assert got.count() == 55
    assert got.filter("part = 0").agg(F.sum("v")).collect()[0][0] == 3 * sum(
        k for k in range(40) if k % 4 == 0
    )
    assert t.scan(spark, snapshot_id=s1["snapshot_id"]).count() == 40

    # manifest min/max stats were harvested through the Hadoop reader
    files = t.plan_files(stats_ranges={"k": (50, 55)})
    assert files and all(e["min"]["k"] <= 55 and e["max"]["k"] >= 50 for e in files)

    # reload from the URI alone
    t2 = IceTable.load(tdir)
    assert t2.scan(spark).count() == 55


def test_expire_and_orphans_on_file_uri(spark, tmp_path):
    tdir = "file:" + str(tmp_path / "t")
    t = IceTable.create(tdir, partition_col="part", stat_cols=[])
    t.append(_df(spark, 0, 40))
    t.overwrite_partitions(_df(spark, 0, 40, factor=3).filter("part = 0"))
    n_before = len(list(t.io.list_files(t.data_dir)))
    res = t.expire_snapshots(keep_last=1)
    assert res["summary"]["orphan_files_removed"] > 0
    assert len(list(t.io.list_files(t.data_dir))) < n_before
    assert t.scan(spark).count() == 40
    with pytest.raises(ValueError):
        t.scan(spark, snapshot_id=1)


def test_expire_survives_alternate_uri_spelling(spark, tmp_path):
    """round-8 ADVICE fix: a table_dir spelling Hadoop normalizes
    (``file:///x`` vs the ``file:/x`` that listFiles yields) must not
    make live files look like orphans — before the qualify() fix,
    relpath over mismatched spellings marked EVERY data file orphaned
    and expire deleted the whole table."""
    tdir = "file://" + str(tmp_path / "t")  # authority-empty triple-slash form
    t = IceTable.create(tdir, partition_col="part", stat_cols=[])
    t.append(_df(spark, 0, 40))
    # no orphans exist: cleanup must delete NOTHING under either spelling
    assert t.remove_orphan_files() == 0
    assert t.scan(spark).count() == 40
    # and qualified containment still catches real orphans
    t.overwrite_partitions(_df(spark, 0, 40, factor=3).filter("part = 0"))
    res = t.expire_snapshots(keep_last=1)
    assert res["summary"]["orphan_files_removed"] > 0
    assert t.scan(spark).count() == 40


def test_cas_contention_on_file_uri(spark, tmp_path):
    """Two writers race the same version through FileContext.rename
    (NONE): exactly one wins, the loser retries against the new head —
    both appends land."""
    import threading

    tdir = "file:" + str(tmp_path / "t")
    t = IceTable.create(tdir, partition_col="part", stat_cols=[])
    dfs = [_df(spark, 0, 40), _df(spark, 40, 100)]
    errs: list = []

    def go(df):
        try:
            IceTable.load(tdir).append(df)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=go, args=(d,)) for d in dfs]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errs == []
    assert t.scan(spark).count() == 100
    assert len(t.snapshots()) == 2


def test_string_partition_escaping_on_file_uri(spark, tmp_path):
    """Hive %XX escaping round-trips through the Hadoop staging path."""
    tdir = "file:" + str(tmp_path / "t")
    t = IceTable.create(tdir, partition_col="host", stat_cols=[])
    df = spark.createDataFrame(
        [(1, "a b/c:d"), (2, "plain.example")], "k int, host string"
    ).repartition(2, "host")
    t.append(df)
    assert {e["partition"] for e in t.plan_files()} == {"a b/c:d", "plain.example"}
    got = t.scan(spark, partition_values={"a b/c:d"})
    assert [r.k for r in got.collect()] == [1]


def test_stream_dedupe_icetable_on_file_uri(spark, tmp_path):
    """The icetable-fed streaming dedup with source, keeper and shingle
    tables on ``file:`` URIs: every read and commit goes through the
    Hadoop FS client, as on hdfs:/s3a:, and a second call resumes after
    the committed source snapshot."""
    from ocr_endpoint_project_spark.streaming import stream_dedupe_icetable
    from ocr_endpoint_project_spark.streaming.dedupe_stream import (
        compact_shingle_df_state,
        shingle_table_dir,
    )

    text = " ".join(f"w{i}" for i in range(40))
    src, out = "file:" + str(tmp_path / "src"), "file:" + str(tmp_path / "out")
    source = IceTable.create(src, partition_col=None, stat_cols=["doc_id"])
    source.append(spark.createDataFrame([(1, text), (2, "other words " * 10)], "doc_id long, text string"))
    assert stream_dedupe_icetable(spark, src, out)["keepers"] == 2
    source.append(spark.createDataFrame([(3, text + " x")], "doc_id long, text string"))
    stats = stream_dedupe_icetable(spark, src, out)
    assert (stats["batches"], stats["dups"], stats["source_snapshot_id"]) == (1, 1, 2)

    keepers = IceTable.load(out)
    assert isinstance(keepers.io, _HadoopIO)
    assert {r.doc_id for r in keepers.scan(spark).collect()} == {1, 2}
    compact_shingle_df_state(spark, out)
    shingles = IceTable.load(shingle_table_dir(out))
    assert isinstance(shingles.io, _HadoopIO)
    assert {e["partition"] for e in shingles.plan_files()} == {"folded"}


def test_extract_sink_with_lineage_on_file_uri(spark, tmp_path):
    """Integration of the round's two pieces: the extraction sink's
    atomic lineage-in-snapshot-summary commit, on a table whose storage
    IO goes through the Hadoop FS client."""
    from ocr_endpoint_project_spark.pipeline.lineage import (
        ice_done_partitions,
        run_with_lineage_ice,
    )
    from ocr_endpoint_project_spark.sources.pages import corpus_pages

    pages = corpus_pages(spark, n=30, seed=5).cache()
    out = "file:" + str(tmp_path / "job")
    r1 = run_with_lineage_ice(spark, pages, out, run_id="rA", num_partitions=4)
    table = IceTable.load(r1["table_dir"])
    assert isinstance(table.io, _HadoopIO)
    assert table.scan(spark).count() == 30
    s = table.snapshots()[-1]["summary"]
    assert s["run_id"] == "rA" and s["lineage"]["doc_count"] == 30
    # resume from the snapshot log over the Hadoop backend
    r2 = run_with_lineage_ice(spark, pages, out, run_id="rB", num_partitions=4)
    assert r2["resumed_partitions_skipped"] == 4
    assert table.scan(spark).count() == 30
    assert len(ice_done_partitions(table)) == 4
    pages.unpersist()


def test_compact_on_file_uri(spark, tmp_path):
    """Sort-order range-split compaction through the Hadoop backend —
    the maintenance path a real hdfs:/s3a: deployment runs."""
    tdir = "file:" + str(tmp_path / "t")
    t = IceTable.create(tdir, partition_col="part", stat_cols=["k"])
    for lo in (0, 1):
        t.append(
            spark.range(0, 50)
            .select(
                (F.col("id") * 2 + lo).alias("k"),
                F.col("id").alias("v"),
                F.lit(0).cast("int").alias("part"),
            )
            .repartition(1)
        )
    assert len(t.plan_files()) == 2
    snap = t.compact(spark, sort_by=["k"], files_per_partition=4)
    assert snap is not None and snap["summary"]["compaction"] is True
    assert len(t.plan_files()) == 4
    # range-split slices carry disjoint footer stats through _HadoopIO
    assert len(t.plan_files(stats_ranges={"k": (90, 99)})) == 1
    assert t.scan(spark).count() == 100
