"""Incremental streaming dedup: per-batch MinHash signatures against the
keeper icetable must reproduce the batch dedup's keeper set when batches
arrive in doc_id order, drop cross-batch duplicates, and stay idempotent
under replay and crashes before a commit."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_endpoint_project_spark.sources.icetable import IceTable
from ocr_endpoint_project_spark.streaming import stream_dedupe
from ocr_endpoint_project_spark.streaming.dedupe_stream import (
    compact_shingle_df_state,
    dedupe_batch,
    shingle_table_dir,
    signature_frame,
)

pytestmark = pytest.mark.usefixtures("spark")

SCHEMA = "doc_id long, text string"


def _vocab_text(prefix: str, n: int = 40) -> str:
    return " ".join(f"{prefix}{i}" for i in range(n))


def _near_dup(text: str) -> str:
    words = text.split()
    words[-1] = words[-1] + "x"  # one-word change: Jaccard >> 0.5
    return " ".join(words)


BATCH1 = [
    (1, _vocab_text("alpha")),
    (2, _near_dup(_vocab_text("alpha"))),  # in-batch dup of 1
    (5, _vocab_text("bravo")),
]
BATCH2 = [
    (11, _near_dup(_vocab_text("alpha"))),  # cross-batch dup of 1
    (12, _vocab_text("charlie")),
    (13, _near_dup(_vocab_text("charlie"))),  # in-batch dup of 12
]


def _write_batch(spark, path: str, rows) -> None:
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(path)


def _run(spark, tmp_path) -> dict[str, str]:
    dirs = {k: str(tmp_path / k) for k in ("in", "out", "ckpt")}
    _write_batch(spark, dirs["in"], BATCH1)
    q = stream_dedupe(spark, dirs["in"], dirs["out"], dirs["ckpt"])
    q.awaitTermination(120)
    _write_batch(spark, dirs["in"], BATCH2)
    q = stream_dedupe(spark, dirs["in"], dirs["out"], dirs["ckpt"])
    q.awaitTermination(120)
    return dirs


def _kept(spark, table_dir: str) -> set:
    return {r["doc_id"] for r in IceTable.load(table_dir).scan(spark).collect()}


def _cum_df(spark, table_dir: str) -> dict:
    """Cumulative shingle df (h -> df) over every live batch."""
    return {
        r["h"]: r["df"]
        for r in IceTable.load(shingle_table_dir(table_dir))
        .scan(spark)
        .groupBy("h")
        .agg(F.sum("df").alias("df"))
        .collect()
    }


def _shingle_partitions(table_dir: str) -> set:
    return {e["partition"] for e in IceTable.load(shingle_table_dir(table_dir)).plan_files()}


def _batch(spark, table_dir: str, rows, batch_id: int):
    return dedupe_batch(
        spark, table_dir, spark.createDataFrame(rows, SCHEMA), batch_id, f"t-{batch_id}"
    )


def _crash_before_cas(monkeypatch, table_dir: str) -> None:
    """Make ``commit_overwrite`` of the table at ``table_dir`` raise: its
    data files are staged, its snapshot is never published."""
    orig = IceTable.commit_overwrite

    def crash(self, *a, **k):
        if self.table_dir == table_dir:
            raise RuntimeError("crash before CAS")
        return orig(self, *a, **k)

    monkeypatch.setattr(IceTable, "commit_overwrite", crash)


def test_stream_dedupe_keeps_first_seen(spark, tmp_path):
    dirs = _run(spark, tmp_path)
    table = IceTable.load(dirs["out"])
    # in-batch dup 2 and 13 dropped; cross-batch dup 11 dropped
    assert _kept(spark, dirs["out"]) == {1, 5, 12}
    # the keeper table is also the signature state, tagged by batch
    state = table.scan(spark)
    assert {"hs", *_sig_cols()} <= set(state.columns)
    assert state.filter(F.col("batch_id") == 0).count() == 2
    assert state.filter(F.col("batch_id") == 1).count() == 1
    # one snapshot per batch, with its counts
    got = [
        (s["summary"]["batch_id"], s["summary"]["docs_in"], s["summary"]["keepers"],
         s["summary"]["dups"])
        for s in table.snapshots()
    ]
    assert got == [(0, 3, 2, 1), (1, 3, 1, 2)]


def test_stream_dedupe_matches_batch_keepers(spark, tmp_path):
    """With batches arriving in doc_id order, the incremental keeper set
    equals the batch path's min-doc_id-per-cluster keeper set."""
    from ocr_endpoint_project_spark.operators.dedup import minhash_lsh_pairs
    from ocr_endpoint_project_spark.pipeline.dedupe import dedupe_corpus

    dirs = _run(spark, tmp_path)
    docs = spark.createDataFrame(BATCH1 + BATCH2, SCHEMA)
    batch_kept = {
        r["doc_id"]
        for r in dedupe_corpus(docs, pairs=minhash_lsh_pairs(docs)).collect()
    }
    assert _kept(spark, dirs["out"]) == batch_kept


def test_stream_dedupe_replay_idempotent(spark, tmp_path):
    """Re-triggering with no new input commits nothing (checkpoint), and
    a replayed batch whose key is already committed is skipped whole."""
    dirs = _run(spark, tmp_path)
    table = IceTable.load(dirs["out"])
    n_snaps = len(table.snapshots())
    n_shingle_snaps = len(IceTable.load(shingle_table_dir(dirs["out"])).snapshots())
    q = stream_dedupe(spark, dirs["in"], dirs["out"], dirs["ckpt"])
    q.awaitTermination(120)
    assert len(table.snapshots()) == n_snaps
    key = table.snapshots()[-1]["summary"]["batch_key"]
    replay = dedupe_batch(spark, dirs["out"], spark.createDataFrame(BATCH2, SCHEMA), 1, key)
    assert replay is None
    assert len(table.snapshots()) == n_snaps
    assert len(IceTable.load(shingle_table_dir(dirs["out"])).snapshots()) == n_shingle_snaps
    assert table.scan(spark).count() == 3


def _sig_cols():
    from ocr_endpoint_project_spark.streaming.dedupe_stream import _SIG_COLS

    return _SIG_COLS


def test_stream_dedupe_cross_batch_hot_shingle_capped(spark, tmp_path, monkeypatch):
    """A shingle COOL within every batch (df 2 <= cap 3) but HOT
    cumulatively (df 4 after two batches) must be dropped from later
    batches' signature legs — the shingle table closes the per-batch
    blind spot that re-opens the O(df^2) band blowup under many small
    micro-batches."""
    from ocr_endpoint_project_spark.operators import dedup

    monkeypatch.setattr(dedup, "SHINGLE_DF_CAP", 3)
    tdir = str(tmp_path / "out")

    # shared prefix sized so half of each doc's shingles are shared
    # (capping them must move the minhash) while pairwise Jaccard
    # (~14/42 = 0.33) stays below the 0.5 dup threshold
    prefix = " ".join(f"common{k}" for k in range(16))
    mk = lambda i: (i, prefix + " " + " ".join(f"u{i}w{j}" for j in range(10)))
    b0, b1 = [mk(1), mk(2)], [mk(3), mk(4)]
    _batch(spark, tdir, b0, 0)
    _batch(spark, tdir, b1, 1)

    # df state: prefix shingles reach cumulative df 4 > cap 3...
    df_state = IceTable.load(shingle_table_dir(tdir)).scan(spark)
    cum = df_state.groupBy("h").agg(F.sum("df").alias("df"))
    hot = cum.filter(F.col("df") > 3).select("h")
    assert hot.count() > 0, "shared prefix shingles must be cumulatively hot"
    # ...and each hot shingle was cool (df <= 3) within every single batch
    assert df_state.filter(F.col("df") > 3).count() == 0

    state = IceTable.load(tdir).scan(spark)
    cols = ["doc_id"] + _sig_cols()

    def rows(df):
        return {tuple(r) for r in df.select(*cols).collect()}

    # batch-0 signatures were computed before the shingles turned hot
    uncapped0 = signature_frame(spark.createDataFrame(b0, SCHEMA))
    assert rows(state.filter(F.col("batch_id") == 0)) == rows(uncapped0)
    # batch-1 signatures exclude the cumulatively-hot shingles...
    capped1 = signature_frame(spark.createDataFrame(b1, SCHEMA), hot=hot)
    assert rows(state.filter(F.col("batch_id") == 1)) == rows(capped1)
    # ...and genuinely differ from what the uncapped path would produce
    uncapped1 = signature_frame(spark.createDataFrame(b1, SCHEMA))
    assert rows(state.filter(F.col("batch_id") == 1)) != rows(uncapped1)


def test_stream_dedupe_output_survives_crash_before_commit(spark, tmp_path, monkeypatch):
    """A crash after the batch's shingle rows committed and its keepers
    were staged, but before the keeper CAS, publishes nothing; rerunning
    the batch gives exactly a single clean run's keepers and cumulative
    df, with no duplicate rows."""
    clean, crashed = str(tmp_path / "clean"), str(tmp_path / "crashed")
    for rows, bid in ((BATCH1, 0), (BATCH2, 1)):
        _batch(spark, clean, rows, bid)

    with monkeypatch.context() as m, pytest.raises(RuntimeError, match="crash before CAS"):
        _crash_before_cas(m, crashed)
        _batch(spark, crashed, BATCH1, 0)
    table = IceTable.load(crashed)
    assert table.snapshots() == []  # nothing published...
    assert list(table.io.list_files(table.data_dir))  # ...though data was staged
    _batch(spark, crashed, BATCH1, 0)  # the rerun
    _batch(spark, crashed, BATCH2, 1)

    cols = ["doc_id", "batch_id", *_sig_cols()]

    def keeper_rows(d):
        return sorted(tuple(r) for r in IceTable.load(d).scan(spark).select(*cols).collect())

    assert keeper_rows(crashed) == keeper_rows(clean)
    assert len(keeper_rows(crashed)) == len(set(keeper_rows(crashed))) == 3
    assert _kept(spark, crashed) == {1, 5, 12}
    assert _cum_df(spark, crashed) == _cum_df(spark, clean)
    shingles = IceTable.load(shingle_table_dir(crashed)).scan(spark)
    assert shingles.count() == shingles.dropDuplicates(["h", "batch_key"]).count()


def test_shingle_df_state_compaction(spark, tmp_path):
    """The per-batch shingle partitions fold into one — but ONLY committed
    batches fold; an uncommitted batch's partition is kept so its replay
    replaces it instead of being double counted. Cumulative counts are
    identical before and after, and the stream keeps running correctly
    on the folded state."""
    tdir = str(tmp_path / "out")
    _batch(spark, tdir, BATCH1, 0)
    _batch(spark, tdir, BATCH2, 1)
    before = _cum_df(spark, tdir)
    # an UNCOMMITTED batch 2: shingle rows written, keepers never committed
    uncommitted = spark.createDataFrame([(999, 7, "t-2")], "h long, df long, batch_key string")
    shingles = IceTable.load(shingle_table_dir(tdir))
    shingles.overwrite_partitions(uncommitted)
    before[999] = 7

    stats = compact_shingle_df_state(spark, tdir)
    assert stats["rows_after"] < stats["rows_before"]
    assert _cum_df(spark, tdir) == before  # cumulative counts preserved exactly
    # committed partitions folded; the uncommitted one survives
    assert _shingle_partitions(tdir) == {"folded", "t-2"}
    # a replay of the uncommitted batch replaces its partition
    shingles.overwrite_partitions(uncommitted)
    assert _cum_df(spark, tdir) == before

    # the stream continues on the folded state: a new batch dedups vs state
    _batch(spark, tdir, [(21, BATCH1[0][1] + " x")], 3)
    assert 21 not in _kept(spark, tdir)  # near-dup of doc 1, caught against state


def test_shingle_df_fold_covers_zero_keeper_batches(spark, tmp_path):
    """A batch of pure duplicates keeps nothing but still commits one
    keeper snapshot, so the fold counts it as committed and leaves no
    per-batch shingle partition behind for it."""
    tdir = str(tmp_path / "out")
    _batch(spark, tdir, [(1, _vocab_text("alpha"))], 0)
    summary = _batch(spark, tdir, [(2, _near_dup(_vocab_text("alpha")))], 1)
    assert (summary["keepers"], summary["dups"]) == (0, 1)
    assert [s["summary"]["batch_key"] for s in IceTable.load(tdir).snapshots()] == [
        "t-0",
        "t-1",
    ]
    assert _shingle_partitions(tdir) == {"t-0", "t-1"}
    before = _cum_df(spark, tdir)

    compact_shingle_df_state(spark, tdir)
    assert _shingle_partitions(tdir) == {"folded"}
    assert _cum_df(spark, tdir) == before
    assert _kept(spark, tdir) == {1}


def test_stream_dedupe_replay_shingle_df_not_double_counted(
    spark, tmp_path, monkeypatch
):
    """A crashed batch's shingle rows are already committed when it is
    rerun; counting them AND the rerun's rows would double the batch's df,
    flipping near-cap shingles hot only on the rerun and producing other
    signatures than a clean run. The rerun replaces its own partition."""
    from ocr_endpoint_project_spark.operators import dedup

    # 3 docs share a prefix -> prefix shingle df 3 == cap 3 (cool in a
    # clean run); a double count would see 6 > 3 (hot)
    monkeypatch.setattr(dedup, "SHINGLE_DF_CAP", 3)
    tdir = str(tmp_path / "out")
    prefix = " ".join(f"common{k}" for k in range(16))
    mk = lambda i: (i, prefix + " " + " ".join(f"u{i}w{j}" for j in range(10)))
    b0 = [mk(1), mk(2), mk(3)]

    with monkeypatch.context() as m, pytest.raises(RuntimeError, match="crash before CAS"):
        _crash_before_cas(m, tdir)
        _batch(spark, tdir, b0, 0)
    _batch(spark, tdir, b0, 0)  # the rerun

    cols = ["doc_id"] + _sig_cols()
    rows = lambda df: {tuple(r) for r in df.select(*cols).collect()}
    # the clean run's signatures are the UNCAPPED ones (df == cap is cool)
    assert rows(IceTable.load(tdir).scan(spark)) == rows(
        signature_frame(spark.createDataFrame(b0, SCHEMA))
    )
    assert max(_cum_df(spark, tdir).values()) == 3


def test_shingle_df_fold_crash_before_cas(spark, tmp_path, monkeypatch):
    """The fold is one overwrite snapshot: a crash after it staged the
    folded rows, before its CAS, leaves the shingle table as it was, and
    rerunning the fold completes it."""
    tdir = str(tmp_path / "out")
    _batch(spark, tdir, BATCH1, 0)
    shingles = IceTable.load(shingle_table_dir(tdir))
    n_snaps = len(shingles.snapshots())
    before = _cum_df(spark, tdir)

    with monkeypatch.context() as m, pytest.raises(RuntimeError, match="crash before CAS"):
        _crash_before_cas(m, shingle_table_dir(tdir))
        compact_shingle_df_state(spark, tdir)
    assert len(shingles.snapshots()) == n_snaps
    assert _shingle_partitions(tdir) == {"t-0"}
    assert _cum_df(spark, tdir) == before

    compact_shingle_df_state(spark, tdir)
    assert _shingle_partitions(tdir) == {"folded"}
    assert _cum_df(spark, tdir) == before
    _batch(spark, tdir, BATCH2, 1)
    assert _kept(spark, tdir) == {1, 5, 12}  # cross-batch dup 11 still caught


def test_stream_dedupe_from_icetable_matches_batch(spark, tmp_path):
    """Dedup fed by an icetable: one batch per source snapshot, each call
    resumes after the source_snapshot_id committed last, and the keeper
    set equals the batch path over the full corpus."""
    from ocr_endpoint_project_spark.operators.dedup import minhash_lsh_pairs
    from ocr_endpoint_project_spark.pipeline.dedupe import dedupe_corpus
    from ocr_endpoint_project_spark.streaming import stream_dedupe_icetable

    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    source = IceTable.create(src, partition_col=None, stat_cols=["doc_id"])
    source.append(spark.createDataFrame(BATCH1, SCHEMA))
    s1 = stream_dedupe_icetable(spark, src, out)
    assert s1 == {"batches": 1, "docs_in": 3, "keepers": 2, "dups": 1, "source_snapshot_id": 1}
    source.append(spark.createDataFrame(BATCH2[:1], SCHEMA))
    source.append(spark.createDataFrame(BATCH2[1:], SCHEMA))
    s2 = stream_dedupe_icetable(spark, src, out)
    assert s2 == {"batches": 2, "docs_in": 3, "keepers": 1, "dups": 2, "source_snapshot_id": 3}
    table = IceTable.load(out)
    assert [s["summary"]["source_snapshot_id"] for s in table.snapshots()] == [1, 2, 3]

    docs = spark.createDataFrame(BATCH1 + BATCH2, SCHEMA)
    batch_kept = {
        r["doc_id"]
        for r in dedupe_corpus(docs, pairs=minhash_lsh_pairs(docs)).collect()
    }
    assert _kept(spark, out) == batch_kept == {1, 5, 12}
    # nothing new in the source: nothing committed
    s3 = stream_dedupe_icetable(spark, src, out)
    assert s3["batches"] == 0 and s3["source_snapshot_id"] == 3
    assert len(table.snapshots()) == 3

    # with the consumed ids expired from the keeper log, resuming would
    # re-deduplicate the kept docs against themselves: refuse
    table.expire_snapshots(keep_last=1)
    with pytest.raises(ValueError, match="source_snapshot_id"):
        stream_dedupe_icetable(spark, src, out)
