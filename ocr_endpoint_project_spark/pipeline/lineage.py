"""Per-partition lineage + exact checkpoint resume (north_rule J6/O4).

The reference's job state machine (``cv_api/main.py:223-301``: queued ->
processing -> succeeded|failed, timings, lineage ids) becomes DATA: one
lineage row per logical partition with doc/byte counts, an
order-insensitive content checksum, and stage timestamps. Resume is a
broadcast anti-join of the input against committed partition ids.

Exactly-once contract: extracted rows land in an icetable
(``sources/icetable.py``) by dynamic partition overwrite keyed by
``partition_id`` (re-running a partition REPLACES its files, never
duplicates them), and each run's overwrite snapshot is the ONE commit
point: data and the run's lineage summary publish in the same CAS.
Resume and progress read the table's current snapshot — its live
files — never its history or a side table. The per-partition lineage
parquet appended after each commit is an audit mirror (checksums,
timings); nothing reads it back.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.icetable import IceTable
from .extract import DEFAULT_PARTITIONS, run_extraction

STATUS_SUCCEEDED = "succeeded"


def lineage_rows(
    extracted: DataFrame,
    run_id: str,
    started_at: datetime | None = None,
    partitions_total: int | None = None,
) -> DataFrame:
    """Aggregate extracted rows into one lineage row per partition.

    Checksum: md5 over the sorted per-row md5s of extracted text — order-
    insensitive, so it is stable under task re-ordering.

    ``started_at`` is the job/batch start wall-clock captured BEFORE the
    data write (the reference records genuine per-stage timings,
    cv_api/main.py:246-256); ``finished_at`` is the lineage-commit time,
    so ``started_at < finished_at`` brackets the data write.
    ``partitions_total`` records the run's configured partition count.
    """
    started = (
        F.lit(started_at).cast("timestamp")
        if started_at is not None
        else F.current_timestamp()
    )
    return (
        extracted.groupBy("partition_id")
        .agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.sum(F.when(F.col("status") == STATUS_SUCCEEDED, 1).otherwise(0)).alias("ok_count"),
            F.sum(F.when(F.col("status") != STATUS_SUCCEEDED, 1).otherwise(0)).alias(
                "failed_count"
            ),
            F.sum(F.coalesce(F.col("doc_bytes"), F.lit(0))).alias("byte_count"),
            F.sum(F.coalesce(F.col("cost_usd"), F.lit(0.0))).alias("cost_usd"),
            F.md5(
                F.concat_ws(
                    "",
                    F.sort_array(
                        F.collect_list(F.md5(F.coalesce(F.col("extracted_text"), F.lit(""))))
                    ),
                )
            ).alias("checksum"),
        )
        .select(
            "partition_id",
            F.lit(run_id).alias("run_id"),
            "doc_count",
            "ok_count",
            "failed_count",
            "byte_count",
            "cost_usd",
            "checksum",
            started.alias("started_at"),
            F.current_timestamp().alias("finished_at"),
            F.lit(partitions_total).cast("int").alias("partitions_total"),
            F.lit(STATUS_SUCCEEDED).alias("status"),
        )
    )


def _live_partitions(files: list[dict]) -> set[int]:
    """Partition ids of a snapshot's live data files."""
    return {int(e["partition"]) for e in files}


def ice_done_partitions(spark: SparkSession, table: IceTable) -> DataFrame | None:
    """Succeeded partition ids, read from the table's CURRENT snapshot:
    the partition values of its live files (``plan_files``), or None for
    an empty table.

    The sink writes one output row per input row, so every committed
    partition has a live file and every live file's partition was
    committed. Reading the live snapshot rather than the snapshot
    history keeps the answer right after ``expire_snapshots`` and
    ``compact``, and needs no side table — a crash between the commit
    and any bookkeeping can never lose or double-count a partition.
    """
    done = sorted(_live_partitions(table.plan_files()))
    if not done:
        return None
    return spark.createDataFrame([(p,) for p in done], "partition_id int")


def stage_lineage(
    spark: SparkSession,
    table: IceTable,
    df: DataFrame,
    run_id: str,
    started_at: datetime,
    partitions_total: int,
) -> tuple[list[dict], DataFrame | None, dict]:
    """Phase 1 of a results-sink commit: stage ``df`` into ``table``
    (nothing is committed yet) and derive its lineage from the STAGED
    files, so the producing plan — the extraction kernel — runs exactly
    once, and the lineage reads blob-free parquet.

    Returns ``(entries, lin, summary)``: the manifest entries for
    ``IceTable.commit_overwrite``, the per-partition :func:`lineage_rows`
    (None when nothing was staged) and their sum — doc/ok/failed/byte
    counts, total cost and an order-insensitive checksum of the
    per-partition checksums — from one collect.
    """
    entries = table.stage_overwrite(df)
    summary = {
        "doc_count": 0, "ok_count": 0, "failed_count": 0,
        "byte_count": 0, "total_cost_usd": 0.0, "checksum": None,
    }
    if not entries:
        return entries, None, summary
    staged = spark.read.option("basePath", table.data_dir).parquet(
        *[os.path.join(table.table_dir, e["path"]) for e in entries]
    )
    lin = lineage_rows(
        staged, run_id, started_at=started_at, partitions_total=partitions_total
    )
    row = lin.agg(
        F.sum("doc_count").alias("doc_count"),
        F.sum("ok_count").alias("ok_count"),
        F.sum("failed_count").alias("failed_count"),
        F.sum("byte_count").alias("byte_count"),
        F.sum("cost_usd").alias("total_cost_usd"),
        F.md5(F.concat_ws("", F.sort_array(F.collect_list("checksum")))).alias(
            "checksum"
        ),
    ).collect()[0]
    # a staged-but-empty file set aggregates to NULLs
    return entries, lin, {
        k: row[k] if k == "checksum" else type(v)(row[k] or 0)
        for k, v in summary.items()
    }


def job_progress(table_dir: str, num_partitions: int = DEFAULT_PARTITIONS) -> dict:
    """Stage progress for a (possibly running or resumable) extraction job.

    The reference reports per-job stage percentages while processing
    (``cv_api/main.py:223-301``: preparing 5% -> ocr 35% -> llm 75% ->
    completed 100%). In a distributed job the honest progress unit is the
    PARTITION: each committed partition has passed every stage, so
    ``percent = partitions_done / partitions_total``, with
    ``partitions_done`` the same live-partition set that drives resume
    (:func:`ice_done_partitions`) and ``docs_done`` the row count of the
    live files. Everything comes from table metadata — no Spark job.

    The denominator is the ``partitions_total`` of the newest snapshot
    summary that records one
    (a resumed job may have been launched with a different partition
    count than this caller assumes); ``num_partitions`` is the fallback
    for a missing table or a history trimmed by ``expire_snapshots``.

    Returns ``{"stage", "percent", "partitions_done", "partitions_total",
    "docs_done"}``.
    """
    try:
        table = IceTable.load(table_dir)
    except FileNotFoundError:
        files, snapshots = [], []
    else:
        files, snapshots = table.plan_files(), table.snapshots()
    n_done = len(_live_partitions(files))
    total = next(
        (
            int(s["summary"]["partitions_total"])
            for s in reversed(snapshots)
            if "partitions_total" in s["summary"]
        ),
        num_partitions,
    )
    return {
        "stage": (
            "completed" if n_done >= total else "extracting" if n_done else "preparing"
        ),
        "percent": round(min(100.0, 100.0 * n_done / total), 1),
        "partitions_done": n_done,
        "partitions_total": total,
        "docs_done": sum(e["rows"] for e in files),
    }


def run_with_lineage_ice(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    run_id: str = "run-1",
    num_partitions: int = DEFAULT_PARTITIONS,
) -> dict:
    """Execute (or resume) the extraction job into an icetable with
    durable lineage (north_rule: "writes extracted text plus span offsets
    back to Iceberg").

    Layout: ``{out_dir}/extracted_ice`` (the icetable, partitioned by
    ``partition_id``) and ``{out_dir}/lineage`` (parquet audit mirror,
    append-only).

    Each run (or resumed slice of a run) commits ONE snapshot via
    dynamic partition overwrite, and the run's LINEAGE RIDES IN THE
    SNAPSHOT SUMMARY (run id, doc/ok/failed/byte counts, total cost, an
    order-insensitive checksum-of-checksums, wall-clock bracket,
    ``partitions_total``): data and lineage commit ATOMICALLY in the same
    CAS — there is no window where one exists without the other.  The
    flow is stage -> derive lineage from the staged files
    (:func:`stage_lineage`, shared with the streaming sink) -> commit; a crash
    before the commit leaves only unreferenced files.  Resume skips the
    partitions live in the current snapshot (:func:`ice_done_partitions`).
    The per-partition lineage rows are appended AFTER the commit as an
    audit mirror; nothing reads them back, so losing them loses nothing.
    """
    table_dir = os.path.join(out_dir, "extracted_ice")
    lineage_dir = os.path.join(out_dir, "lineage")
    try:
        table = IceTable.load(table_dir)
    except FileNotFoundError:
        table = IceTable.create(
            table_dir, partition_col="partition_id", stat_cols=["url", "doc_bytes"]
        )

    done = ice_done_partitions(spark, table)
    extracted = run_extraction(pages, num_partitions=num_partitions, done_partitions=done)

    started_at = datetime.now(timezone.utc)  # before the data write
    entries, lin, lineage_summary = stage_lineage(
        spark,
        table,
        # re-cluster by the LOGICAL id so the overwrite writes one file
        # set per partition_id (extraction tasks are physically spread by
        # the raw url hash for balance — see extract.salted_pages). Rows
        # here are blob-free (html was projected away in the kernel), so
        # this exchange moves ~10% of the input bytes; a write-stage
        # exchange keyed on P distinct values is birthday-lumpy, which is
        # acceptable for pure IO tasks but must never sit in front of the
        # extraction kernel.
        extracted.repartition(num_partitions, F.col("partition_id")),
        run_id,
        started_at,
        num_partitions,
    )
    snap = table.commit_overwrite(
        entries,
        extra_summary={
            "run_id": run_id,
            "started_at": started_at.isoformat(),
            "finished_at": datetime.now(timezone.utc).isoformat(),
            "partitions_total": num_partitions,
            "lineage": lineage_summary,
        },
    )
    if lin is not None:
        # audit mirror (see docstring) — written only after the commit
        lin.withColumn("snapshot_id", F.lit(int(snap["snapshot_id"]))).write.mode(
            "append"
        ).parquet(lineage_dir)

    return {
        "run_id": run_id,
        "snapshot_id": int(snap["snapshot_id"]),
        "resumed_partitions_skipped": 0 if done is None else done.count(),
        "partitions_total": len(_live_partitions(table.plan_files())),
        "table_dir": table_dir,
        "lineage_dir": lineage_dir,
    }
