"""Integration: the flagship job via real ``spark-submit`` (north rule:
"run via spark-submit --py-files"), including a resumed second run."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.slow
def test_spark_submit_extract_job(spark, tmp_path):
    in_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "out")
    from ocr_endpoint_project_spark.sources.pages import corpus_pages

    corpus_pages(spark, n=50, seed=42).write.parquet(in_dir)

    env = dict(os.environ, PYSPARK_PYTHON=sys.executable)
    cmd = [
        "spark-submit",
        "--master", "local[4]",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.sql.shuffle.partitions=8",
        os.path.join(REPO, "jobs", "extract_job.py"),
        "--input", in_dir,
        "--output", out_dir,
        "--partitions", "8",
        "--run-id", "submit-1",
        "--quarantine",
    ]
    res = subprocess.run(cmd, capture_output=True, text=True, timeout=300, env=env, cwd=REPO)
    assert res.returncode == 0, res.stderr[-2000:]
    stats = json.loads([l for l in res.stdout.splitlines() if l.startswith("{")][-1])
    assert stats["run_id"] == "submit-1"
    assert stats["resumed_partitions_skipped"] == 0

    # resumed run: everything already done
    res2 = subprocess.run(
        cmd[:-3] + ["--run-id", "submit-2", "--quarantine"],
        capture_output=True, text=True, timeout=300, env=env, cwd=REPO,
    )
    assert res2.returncode == 0, res2.stderr[-2000:]
    stats2 = json.loads([l for l in res2.stdout.splitlines() if l.startswith("{")][-1])
    assert stats2["resumed_partitions_skipped"] == stats["partitions_total"]

    from ocr_endpoint_project_spark.sources.icetable import IceTable

    out = IceTable.load(os.path.join(out_dir, "extracted_ice")).scan(spark)
    quarantined = spark.read.parquet(os.path.join(out_dir, "quarantine"))
    assert out.count() + quarantined.count() == 50


@pytest.mark.slow
def test_spark_submit_dedupe_job(spark, tmp_path):
    """The dedup pipeline end-to-end via real spark-submit: deduplicated
    corpus + cluster audit table + materialized signatures on disk."""
    in_dir = str(tmp_path / "documents.parquet")
    out_dir = str(tmp_path / "dedup_out")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.write.parquet(in_dir)
    n_in = docs.count()

    env = dict(os.environ, PYSPARK_PYTHON=sys.executable)
    env.pop("SPARK_GRAFT_MATERIALIZE_DIR", None)
    cmd = [
        "spark-submit",
        "--master", "local[4]",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.sql.shuffle.partitions=8",
        os.path.join(REPO, "jobs", "dedupe_job.py"),
        "--input", in_dir,
        "--output", out_dir,
    ]
    res = subprocess.run(cmd, capture_output=True, text=True, timeout=300, env=env, cwd=REPO)
    assert res.returncode == 0, res.stderr[-2000:]
    stats = json.loads([l for l in res.stdout.splitlines() if l.startswith("{")][-1])
    assert stats["docs_in"] == n_in
    assert stats["docs_kept"] + stats["docs_removed"] == n_in
    assert stats["docs_kept"] >= 1

    kept = spark.read.parquet(os.path.join(out_dir, "deduped"))
    assert kept.count() == stats["docs_kept"]
    clusters = spark.read.parquet(os.path.join(out_dir, "clusters"))
    assert clusters.count() == n_in
    # signatures were materialized (the 100-TB shape), not cached
    assert os.path.isdir(os.path.join(out_dir, "signatures", "lsh_hashed_shingles"))


def test_compact_job_reduces_files_preserving_rows(spark, tmp_path):
    """Compaction rewrites a many-small-files table into ~target-size
    files with identical row content (count + order-insensitive md5)."""
    from pyspark.sql import functions as F

    from jobs.compact_job import compact

    in_dir = str(tmp_path / "fragmented")
    out_dir = str(tmp_path / "compacted")
    df = spark.range(20000).select(
        F.col("id").alias("doc_id"), F.md5(F.col("id").cast("string")).alias("payload")
    )
    df.repartition(64).write.parquet(in_dir)  # 64 small files

    stats = compact(spark, in_dir, out_dir, target_file_mb=1)
    assert stats["rows"] == 20000
    assert stats["files_before"] >= 64
    assert stats["files_after"] < stats["files_before"]
    assert stats["files_after"] <= 4  # ~1.2 MB of data at 1 MB target

    def checksum(path):
        return spark.read.parquet(path).agg(
            F.md5(F.concat_ws("", F.sort_array(F.collect_list(F.md5("payload")))))
        ).collect()[0][0]

    assert spark.read.parquet(out_dir).count() == 20000
    assert checksum(in_dir) == checksum(out_dir)


def test_compact_job_file_uri_via_hadoop_fs(spark, tmp_path):
    """Round 5: directory stats come from the Hadoop FileSystem API, so
    an explicit `file:` URI (the scheme-qualified path shape every
    object store uses) works end-to-end — os.walk would have seen a
    local path only by accident, and nothing on s3a/hdfs."""
    from pyspark.sql import functions as F

    from jobs.compact_job import _dir_stats, compact

    in_dir = "file://" + str(tmp_path / "frag")
    out_dir = "file://" + str(tmp_path / "compacted")
    df = spark.range(5000).select(
        F.col("id").alias("doc_id"), F.md5(F.col("id").cast("string")).alias("payload")
    )
    df.repartition(16).write.parquet(in_dir)

    n, b = _dir_stats(spark, in_dir)
    assert n >= 16 and b > 0  # stats sourced from the FS API, not os.walk

    stats = compact(spark, in_dir, out_dir, target_file_mb=1)
    assert stats["rows"] == 5000
    assert stats["files_before"] >= 16
    assert stats["files_after"] < stats["files_before"]
    assert spark.read.parquet(out_dir).count() == 5000

    def checksum(path):
        return spark.read.parquet(path).agg(
            F.md5(F.concat_ws("", F.sort_array(F.collect_list(F.md5("payload")))))
        ).collect()[0][0]

    assert checksum(in_dir) == checksum(out_dir)


def test_stream_dedupe_job_incremental_runs(spark, tmp_path):
    """The streaming-dedup job entry: two invocations over a growing
    input dir continue from the checkpoint, keepers accumulate in the
    keeper icetable, and --compact-state folds the shingle-df table."""
    from jobs.stream_dedupe_job import run

    dirs = {k: str(tmp_path / k) for k in ("in", "out", "ckpt")}

    def write(rows):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.mode(
            "append"
        ).parquet(dirs["in"])

    base = " ".join(f"w{i}" for i in range(40))
    write([(1, base), (2, base + " x")])  # 2 is a near-dup of 1
    s1 = run(spark, dirs["in"], dirs["out"], dirs["ckpt"])
    assert s1 == {"docs_in": 2, "keepers": 1, "dups_dropped": 1}

    write([(3, base + " y"), (4, " ".join(f"z{i}" for i in range(40)))])
    s2 = run(spark, dirs["in"], dirs["out"], dirs["ckpt"], compact_state=True)
    # 3 dups against state; 4 is fresh
    assert s2["docs_in"] == 4 and s2["keepers"] == 2 and s2["dups_dropped"] == 2
    assert s2["state_compaction"]["rows_after"] <= s2["state_compaction"]["rows_before"]


@pytest.mark.slow
def test_spark_submit_trainprep_job(spark, tmp_path):
    """The training-prep chain end-to-end via real spark-submit: exact +
    near dedup, quality filter, split, and a pack-manifest icetable
    snapshot whose offsets tile each shard."""
    out_dir = str(tmp_path / "out")
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable)
    cmd = [
        "spark-submit",
        "--master", "local[4]",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.sql.shuffle.partitions=8",
        os.path.join(REPO, "jobs", "trainprep_job.py"),
        "--input", "/root/testdata/sf0.001/documents.parquet",
        "--output", out_dir,
        "--partitions", "8",
    ]
    res = subprocess.run(cmd, capture_output=True, text=True, timeout=420, env=env, cwd=REPO)
    assert res.returncode == 0, res.stderr[-2000:]
    stats = json.loads([l for l in res.stdout.splitlines() if l.startswith("{")][-1])
    assert stats["docs_in"] == 500
    assert (
        stats["docs_in"]
        >= stats["after_exact_dedup"]
        >= stats["after_near_dedup"]
        >= stats["after_quality_filter"]
        > 0
    )
    assert stats["after_near_dedup"] < stats["docs_in"]  # corpus has near-dups
    assert sum(stats["split_counts"].values()) == stats["after_quality_filter"]
    assert stats["manifest_snapshot_id"] == 1

    from ocr_endpoint_project_spark.sources.icetable import IceTable

    manifest = IceTable.load(os.path.join(out_dir, "pack_manifest_ice")).scan(spark)
    rows = manifest.collect()
    assert len(rows) == stats["split_counts"].get("train", 0)
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r)
    for rs in by_shard.values():
        rs.sort(key=lambda r: r.doc_id)
        off = 0
        for r in rs:
            assert r.tok_start == off
            off = r.tok_end
    assert stats["train_packs"] > 0


@pytest.mark.slow
def test_spark_submit_compact_job_ice_mode(spark, tmp_path):
    """--ice: in-place icetable compaction committed as a snapshot, with
    the sort-order range-split rewrite."""
    from ocr_endpoint_project_spark.sources.icetable import IceTable
    from pyspark.sql import functions as F

    tdir = str(tmp_path / "t")
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
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable)
    cmd = [
        "spark-submit",
        "--master", "local[4]",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.sql.shuffle.partitions=8",
        os.path.join(REPO, "jobs", "compact_job.py"),
        "--input", tdir,
        "--ice",
        "--sort-by", "k",
        "--files-per-partition", "4",
    ]
    res = subprocess.run(cmd, capture_output=True, text=True, timeout=300, env=env, cwd=REPO)
    assert res.returncode == 0, res.stderr[-2000:]
    stats = json.loads([l for l in res.stdout.splitlines() if l.startswith("{")][-1])
    assert stats["compacted"] and stats["files_before"] == 2 and stats["files_after"] == 4
    # range-split slices are live: a top-range scan plans one file
    assert len(t.plan_files(stats_ranges={"k": (90, 99)})) == 1
    assert {r.k for r in t.scan(spark).collect()} == set(range(100))


def test_spark_submit_trainprep_job_trained_probe(spark, tmp_path):
    """--trained-probe: the quality stage trains the integer-GD probe
    in-engine and filters on its score instead of the fixed scorer."""
    out_dir = str(tmp_path / "out")
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable)
    cmd = [
        "spark-submit",
        "--master", "local[4]",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.sql.shuffle.partitions=8",
        os.path.join(REPO, "jobs", "trainprep_job.py"),
        "--input", "/root/testdata/sf0.001/documents.parquet",
        "--output", out_dir,
        "--partitions", "8",
        "--trained-probe",
    ]
    res = subprocess.run(cmd, capture_output=True, text=True, timeout=420, env=env, cwd=REPO)
    assert res.returncode == 0, res.stderr[-2000:]
    stats = json.loads([l for l in res.stdout.splitlines() if l.startswith("{")][-1])
    assert stats["docs_in"] == 500
    assert 0 < stats["after_quality_filter"] <= stats["after_near_dedup"]
    assert sum(stats["split_counts"].values()) == stats["after_quality_filter"]
