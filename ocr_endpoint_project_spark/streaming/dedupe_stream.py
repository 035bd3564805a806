"""Incremental (streaming) corpus deduplication: the streaming twin of
the batch MinHash-LSH -> verify -> keeper path (operators/dedup.py,
pipeline/dedupe.py).

At 100-TB scale a corpus is never deduplicated once — new crawl batches
arrive forever, and each batch must be deduplicated BOTH against itself
AND against everything already kept. Per batch, only the batch's
signatures are computed fresh, the band-bucket join against the kept
documents is keyed (never all-pairs), and only verified-unique documents
are kept — one keeper per cluster, maintained incrementally.

Semantics: a batch document is a duplicate if its verified Jaccard
(hashed-shingle sets, threshold JACCARD_THRESHOLD) reaches any KEPT
document from an earlier batch, or any earlier-doc_id document within
its own batch (first-seen-wins — the incremental analog of the batch
keeper's min-doc_id rule; the two agree whenever batch arrival order
respects doc_id order, which the equivalence test pins).

Storage is two icetables (sources/icetable.py), both partitioned by the
string ``batch_key`` (the ``stream_extract`` pattern):

* the KEEPER table at ``table_dir``, columns ``doc_id, text, hs,
  mh0..mhN, batch_id, batch_key``: the deduplicated output and, at the
  same time, the signature state every later batch is checked against;
* the SHINGLE table at ``table_dir + "_shingle_df"``, columns ``h, df,
  batch_key``: per-batch shingle document frequencies. Each batch's
  signatures are capped against the CUMULATIVE df, so a shingle cool
  within every micro-batch but hot across thousands of them is still
  dropped from the banding leg — without this, many small batches
  re-open the O(df^2) band-join blowup the batch path's ``_cap_hashed``
  closed. The verify leg keeps FULL shingle sets, like the batch path.

One commit point per batch (:func:`dedupe_batch`): the batch's shingle
rows are written first, by an overwrite of its own partition (a replay
replaces them), then its keepers and its summary publish in ONE
keeper-table snapshot — also when it keeps nothing. A batch whose key is
already in the keeper table's snapshot log is skipped.
:func:`compact_shingle_df_state` folds the committed batches' shingle
partitions into one, in one overwrite snapshot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators import dedup as _dedup
from ..operators.dedup import (
    JACCARD_THRESHOLD,
    LSH_ROWS_PER_BAND,
    MINHASH_P,
    MINHASH_PERMS,
    _cap_hashed,
    _doc_tokens,
    _shingles,
)
from ..functions.text import shingle_hash32
from ..sources.icetable import IceTable
from .incremental import BATCH_KEY

_SIG_COLS = [f"mh{i}" for i in range(len(MINHASH_PERMS))]


def signature_frame(docs: DataFrame, hot: DataFrame | None = None) -> DataFrame:
    """(doc_id, hs, mh0..mhN) over any (doc_id, text) frame: hashed
    shingle SET (array<bigint>, 28-bit md5 domain) plus the MinHash
    signature of its df-capped stream — the same construction the batch
    LSH path pins (operators/dedup.minhash_lsh_pairs). Documents with
    no shingles (too short) keep an empty hs and a null signature; they
    can never collide in a band, so they are always kept.

    ``hot``: optional (h) frame of stop-shingle hashes to exclude from
    the signature leg (broadcast anti-join). When given it REPLACES the
    within-frame cap: the stream passes cumulative hot sets that already
    subsume any shingle hot within this one batch."""
    # token array hoisted (operators/dedup._doc_tokens): the shingle
    # lambda slices it per element — round-8 CollapseProject fix
    hs = _doc_tokens(docs).select(
        "doc_id",
        F.array_distinct(
            F.transform(_shingles(F.col("t")), lambda s: shingle_hash32(s))
        ).alias("hs"),
    )
    hashed = hs.select("doc_id", F.explode("hs").alias("h"))
    if hot is not None:
        capped = hashed.join(F.broadcast(hot.select("h")), "h", "left_anti")
    else:
        capped = _cap_hashed(hashed)
    sig = capped.groupBy("doc_id").agg(
        *[
            F.min((F.col("h") * a + b) % MINHASH_P).alias(f"mh{i}")
            for i, (a, b) in enumerate(MINHASH_PERMS)
        ]
    )
    return hs.join(sig, "doc_id", "left")


def _bands(sig: DataFrame) -> DataFrame:
    """Explode a signature frame into (doc_id, hs, band_id, band_key)."""
    n_bands = len(MINHASH_PERMS) // LSH_ROWS_PER_BAND
    return sig.select(
        "doc_id",
        "hs",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band_id"),
                        F.concat_ws(
                            "_",
                            *[
                                F.col(f"mh{bi * LSH_ROWS_PER_BAND + r}")
                                for r in range(LSH_ROWS_PER_BAND)
                            ],
                        ).alias("band_key"),
                    )
                    for bi in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "hs", "band.band_id", "band.band_key").filter(
        F.col("band_key") != ""  # null-signature (shingle-less) docs never band
    )


def _verified_dup_ids(batch_sig: DataFrame, state_sig: DataFrame | None) -> DataFrame:
    """doc_ids of batch documents that verify as duplicates of state
    documents or of earlier-doc_id batch documents."""
    nb = _bands(batch_sig).alias("nb")
    legs = []
    if state_sig is not None:
        st = _bands(state_sig).alias("st")
        legs.append(
            nb.join(
                st,
                (F.col("nb.band_id") == F.col("st.band_id"))
                & (F.col("nb.band_key") == F.col("st.band_key")),
            ).select(
                F.col("nb.doc_id").alias("doc_id"),
                F.col("st.doc_id").alias("old_id"),
                F.col("nb.hs").alias("hs_new"),
                F.col("st.hs").alias("hs_old"),
            )
        )
    prior = _bands(batch_sig).alias("pr")
    legs.append(
        nb.join(
            prior,
            (F.col("nb.band_id") == F.col("pr.band_id"))
            & (F.col("nb.band_key") == F.col("pr.band_key"))
            & (F.col("pr.doc_id") < F.col("nb.doc_id")),  # first-seen wins
        ).select(
            F.col("nb.doc_id").alias("doc_id"),
            F.col("pr.doc_id").alias("old_id"),
            F.col("nb.hs").alias("hs_new"),
            F.col("pr.hs").alias("hs_old"),
        )
    )
    cand = legs[0]
    for leg in legs[1:]:
        cand = cand.unionByName(leg)
    jac = F.size(F.array_intersect("hs_new", "hs_old")).cast("double") / F.size(
        F.array_union("hs_new", "hs_old")
    )
    return (
        cand.dropDuplicates(["doc_id", "old_id"])  # multi-band hits count once
        .filter(jac >= JACCARD_THRESHOLD)
        .select("doc_id")
        .distinct()
    )


def shingle_table_dir(table_dir: str) -> str:
    """Where the shingle-frequency table of keeper table ``table_dir`` lives."""
    return table_dir.rstrip("/") + "_shingle_df"


def _open(table_dir: str, stat_cols: list[str]) -> IceTable:
    try:
        return IceTable.load(table_dir)
    except FileNotFoundError:
        return IceTable.create(table_dir, partition_col=BATCH_KEY, stat_cols=stat_cols)


def _batch_summaries(keepers: IceTable) -> list[dict]:
    """Summaries of the committed dedup batches still in the snapshot log."""
    return [s["summary"] for s in keepers.snapshots() if BATCH_KEY in s["summary"]]


def dedupe_batch(
    spark: SparkSession,
    table_dir: str,
    docs: DataFrame,
    batch_id: int,
    key: str,
    extra_summary: dict | None = None,
) -> dict | None:
    """Deduplicate one batch of ``(doc_id, text)`` documents against
    itself and every kept document, and commit it under ``key``.

    The keeper snapshot's summary holds ``batch_key``, ``batch_id``,
    ``docs_in``, ``keepers``, ``dups`` and ``extra_summary``; it is
    returned, or None when ``key`` is already committed (a replay)."""
    keepers = _open(table_dir, ["doc_id"])
    shingles = _open(shingle_table_dir(table_dir), [])
    if any(s[BATCH_KEY] == key for s in _batch_summaries(keepers)):
        return None
    state = (
        keepers.scan(spark).select("doc_id", "hs", *_SIG_COLS)
        if keepers.snapshots()
        else None
    )
    docs = docs.select("doc_id", "text").persist()
    counts = (
        _doc_tokens(docs)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(_shingles(F.col("t")), lambda s: shingle_hash32(s))
                )
            ).alias("h"),
        )
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    # this batch's df rows replace a crashed attempt's, so the cumulative
    # df below counts every live batch exactly once
    shingles.overwrite_partitions(counts.withColumn(BATCH_KEY, F.lit(key)))
    hot = (
        shingles.scan(spark)
        .groupBy("h")
        .agg(F.sum("df").alias("df"))
        .filter(F.col("df") > _dedup.SHINGLE_DF_CAP)
        .select("h")
    )
    sig = signature_frame(docs, hot=hot).persist()
    kept = sig.join(_verified_dup_ids(sig, state), "doc_id", "left_anti")
    entries = keepers.stage_overwrite(
        docs.join(kept, "doc_id")
        .withColumn("batch_id", F.lit(int(batch_id)).cast("long"))
        .withColumn(BATCH_KEY, F.lit(key))
    )
    docs_in = docs.count()
    n_kept = sum(e["rows"] for e in entries)
    summary = {
        BATCH_KEY: key,
        "batch_id": int(batch_id),
        "docs_in": docs_in,
        "keepers": n_kept,
        "dups": docs_in - n_kept,
        **(extra_summary or {}),
    }
    keepers.commit_overwrite(entries, extra_summary=summary)
    sig.unpersist()
    docs.unpersist()
    return summary


def stream_dedupe(
    spark: SparkSession,
    input_dir: str,
    table_dir: str,
    checkpoint_dir: str,
    schema: str = "doc_id long, text string",
    available_now: bool = True,
) -> StreamingQuery:
    """Start the incremental dedup stream over a parquet directory: each
    micro-batch is one :func:`dedupe_batch` under the key ``"{query
    id}-{batch id}"``, so a query restarted on a fresh checkpoint never
    collides with the keys of an earlier one; Spark's file-stream
    checkpoint records which input files were consumed."""

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        query_id = batch_df.sparkSession.sparkContext.getLocalProperty(
            "sql.streaming.queryId"
        )
        dedupe_batch(spark, table_dir, batch_df, batch_id, f"{query_id}-{batch_id}")

    writer = (
        spark.readStream.schema(schema)
        .parquet(input_dir)
        .writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_dedupe_icetable(spark: SparkSession, source_dir: str, table_dir: str) -> dict:
    """Deduplicate a continuously-appended icetable of ``(doc_id, text)``
    documents: one :func:`dedupe_batch` per source snapshot newer than the
    last ``source_snapshot_id`` committed to the keeper table, each over
    ``IceTable.incremental_scan`` of just that snapshot. The keeper
    snapshot records the source snapshot it consumed, so the commit point
    is the resume point — no Spark checkpoint — and the reads go through
    the JVM parquet reader on any Hadoop filesystem.

    Raises on a non-append source snapshot, and when the keeper table has
    commits but none records a ``source_snapshot_id`` (its history was
    expired, or another feed filled it): restarting from the first source
    snapshot would deduplicate the kept documents against themselves.
    Returns ``batches``, ``docs_in``, ``keepers``, ``dups`` of this call
    and the last consumed ``source_snapshot_id``."""
    source = IceTable.load(source_dir)
    keepers = _open(table_dir, ["doc_id"])
    consumed = [
        s["source_snapshot_id"]
        for s in _batch_summaries(keepers)
        if "source_snapshot_id" in s
    ]
    if keepers.snapshots() and not consumed:
        raise ValueError(
            f"keeper table {table_dir} has commits but no recorded "
            "source_snapshot_id; cannot tell which source snapshots it consumed"
        )
    prev = consumed[-1] if consumed else None
    stats = {"batches": 0, "docs_in": 0, "keepers": 0, "dups": 0}
    for snap in source.snapshots():
        sid = snap["snapshot_id"]
        if prev is not None and sid <= prev:
            continue
        summary = dedupe_batch(
            spark,
            table_dir,
            source.incremental_scan(spark, prev, sid),
            sid,
            f"snapshot-{sid}",
            {"source_snapshot_id": sid},
        )
        stats["batches"] += 1
        for k in ("docs_in", "keepers", "dups"):
            stats[k] += summary[k]
        prev = sid
    stats["source_snapshot_id"] = prev
    return stats


_FOLDED = "folded"  # batch key of the folded shingle-frequency partition


def compact_shingle_df_state(spark: SparkSession, table_dir: str) -> dict:
    """Fold the shingle partitions of every COMMITTED batch (its key is in
    the keeper table's snapshot log, also when it kept nothing) and the
    previous fold into one ``folded`` partition, bounding the table at
    O(distinct shingles) instead of O(batches x shingles per batch).

    The fold is one overwrite snapshot, so a crash before its commit
    leaves the table as it was. Partitions of uncommitted batches are
    left alone: a replay of such a batch replaces its partition, which
    a fold would have summed away. Returns ``rows_before``/``rows_after``
    (from manifest row counts)."""
    try:
        shingles = IceTable.load(shingle_table_dir(table_dir))
        done = {s[BATCH_KEY] for s in _batch_summaries(IceTable.load(table_dir))}
    except FileNotFoundError:
        return {"rows_before": 0, "rows_after": 0}
    files = shingles.plan_files()
    fold = {e["partition"] for e in files if e["partition"] in done | {_FOLDED}}
    if fold - {_FOLDED}:
        folded = (
            shingles.scan(spark, partition_values=fold)
            .groupBy("h")
            .agg(F.sum("df").alias("df"))
            .withColumn(BATCH_KEY, F.lit(_FOLDED))
        )
        shingles.commit_overwrite(
            shingles.stage_overwrite(folded),
            extra_summary={"folded_partitions": len(fold)},
            replace=fold,
        )
    return {
        "rows_before": sum(e["rows"] for e in files),
        "rows_after": sum(e["rows"] for e in shingles.plan_files()),
    }
