"""Per-partition lineage + exact checkpoint resume (north_rule J6/O4).

The reference's job state machine (``cv_api/main.py:223-301``: queued ->
processing -> succeeded|failed, timings, lineage ids) becomes DATA: one
lineage row per logical partition with doc/byte counts, an
order-insensitive content checksum, and stage timestamps, stored in that
partition's manifest entry. Resume filters the input to the partition
ids NOT live in the table (``partition_id NOT IN``, read from metadata).

Exactly-once contract: extracted rows land in an icetable
(``sources/icetable.py``) by dynamic partition overwrite keyed by
``partition_id`` (re-running a partition REPLACES its files, never
duplicates them), and each run's overwrite snapshot is the ONE commit
point: data and the run's lineage summary publish in the same CAS.
Resume and progress read the table's current snapshot — its live
files and their entries' lineage — never its history or a side table.
"""

from __future__ import annotations

import hashlib
import os
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.icetable import IceTable
from .extract import DEFAULT_PARTITIONS, PARTITION_ID_RULE, run_extraction

STATUS_SUCCEEDED = "succeeded"


def lineage_rows(extracted: DataFrame, run_id: str) -> DataFrame:
    """Aggregate extracted rows into one lineage row per partition: run
    id, doc/ok/failed/byte counts, cost and checksum.

    Checksum: md5 over the sorted per-row md5s of extracted text — order-
    insensitive, so it is stable under task re-ordering.
    """
    return extracted.groupBy("partition_id", F.lit(run_id).alias("run_id")).agg(
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


def _lineage_summary(rows: list) -> dict:
    """Sum per-partition :func:`lineage_rows` into one run summary on the
    driver: doc/ok/failed/byte counts, total cost and an order-insensitive
    checksum — md5 over the sorted per-partition checksums (None for no
    rows)."""
    summary = {
        k: sum(r[k] for r in rows)
        for k in ("doc_count", "ok_count", "failed_count", "byte_count")
    }
    summary["total_cost_usd"] = float(sum(r["cost_usd"] for r in rows))
    checksums = "".join(sorted(r["checksum"] for r in rows))
    summary["checksum"] = hashlib.md5(checksums.encode()).hexdigest() if rows else None
    return summary


def _live_partitions(files: list[dict]) -> set[int]:
    """Partition ids of a snapshot's live data files."""
    return {int(e["partition"]) for e in files}


def ice_done_partitions(table: IceTable) -> list[int]:
    """Succeeded partition ids, read from the table's CURRENT snapshot:
    the sorted partition values of its live files (``plan_files``).

    The sink writes one output row per input row, so every committed
    partition has a live file and every live file's partition was
    committed. Reading the live snapshot rather than the snapshot
    history keeps the answer right after ``expire_snapshots`` and
    ``compact``, and needs no side table — a crash between the commit
    and any bookkeeping can never lose or double-count a partition.
    """
    return sorted(_live_partitions(table.plan_files()))


def _refuse_other_partitioning(table: IceTable, num_partitions: int) -> None:
    """Raise ``ValueError`` when a live partition of ``table`` was written
    under another id rule or partition count than this run assigns (or
    records no rule, as tables written before it was recorded): resuming
    would skip ids that name other urls and commit duplicates."""
    for e in table.plan_files():
        lin = e.get("lineage", {})
        written = (lin.get("partition_id_rule"), lin.get("partitions_total"))
        if written != (PARTITION_ID_RULE, num_partitions):
            raise ValueError(
                f"{table.table_dir}: partition {e['partition']} was written with "
                f"(rule, partitions) = {written}, this run assigns "
                f"{(PARTITION_ID_RULE, num_partitions)}; extract into a new table"
            )


def stage_lineage(
    spark: SparkSession, table: IceTable, df: DataFrame, run_id: str
) -> tuple[list[dict], list, dict]:
    """Phase 1 of a results-sink commit: stage ``df`` into ``table``
    (nothing is committed yet) and derive its lineage from the STAGED
    files, so the producing plan — the extraction kernel — runs exactly
    once, and the lineage reads blob-free parquet.

    Returns ``(entries, rows, summary)``: the manifest entries for
    ``IceTable.commit_overwrite``, the collected per-partition
    :func:`lineage_rows` (one collect of at most P rows) and their
    :func:`_lineage_summary`.
    """
    entries = table.stage_overwrite(df)
    rows = []
    if entries:
        # the staged schema is known: no footer-inference job
        staged = (
            spark.read.schema(df.schema)
            .option("basePath", table.data_dir)
            .parquet(*[os.path.join(table.table_dir, e["path"]) for e in entries])
        )
        rows = lineage_rows(staged, run_id).collect()
    return entries, rows, _lineage_summary(rows)


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

    The denominator is the ``partitions_total`` in the lineage of the live
    manifest entry that finished last (a resumed job may have been
    launched with a different partition count than this caller assumes);
    live entries outlive snapshot expiry, so this holds after
    ``expire_snapshots``. ``num_partitions`` is the fallback for a missing
    table or one whose live entries carry no lineage.

    Returns ``{"stage", "percent", "partitions_done", "partitions_total",
    "docs_done"}``.
    """
    try:
        files = IceTable.load(table_dir).plan_files()
    except FileNotFoundError:
        files = []
    n_done = len(_live_partitions(files))
    lineage = [e["lineage"] for e in files if "lineage" in e]
    total = (
        int(max(lineage, key=lambda l: l["finished_at"])["partitions_total"])
        if lineage
        else num_partitions
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

    Layout: ``{out_dir}/extracted_ice``, the icetable partitioned by
    ``partition_id``. Lineage lives only in its metadata.

    Each run (or resumed slice of a run) commits ONE snapshot via
    dynamic partition overwrite, and the run's LINEAGE RIDES IN THE
    COMMIT: the snapshot summary holds the run's (run id, doc/ok/failed/
    byte counts, total cost, an order-insensitive checksum-of-checksums,
    wall-clock bracket, ``partitions_total``, ``partition_id_rule``),
    and each partition's manifest entry holds that partition's
    :func:`lineage_rows` row with the run's wall-clock bracket,
    ``partitions_total``, ``partition_id_rule`` and ``status``
    (``plan_files()[i]["lineage"]``), so it lives exactly as long as the
    partition's files. Data and lineage publish ATOMICALLY in the same
    CAS — there is no window where one exists without the other. The
    flow is stage -> one collect of the lineage of the staged files
    (:func:`stage_lineage`, shared with the streaming sink) -> commit; a
    crash before the commit leaves only unreferenced files. The salted
    exchange is the only shuffle before the write: each extraction task
    holds exactly one ``partition_id`` (``extract.salted_pages``), so it
    writes that partition's one file.

    Resume skips the partitions live in the current snapshot
    (:func:`ice_done_partitions`). It first raises ``ValueError`` when a
    live partition was written under another id rule or partition count
    (or records no rule). When every partition is live the run builds no
    plan and starts no Spark job: it commits an empty snapshot carrying
    its (zero) lineage.
    """
    table_dir = os.path.join(out_dir, "extracted_ice")
    try:
        table = IceTable.load(table_dir)
    except FileNotFoundError:
        table = IceTable.create(
            table_dir, partition_col="partition_id", stat_cols=["url", "doc_bytes"]
        )

    _refuse_other_partitioning(table, num_partitions)
    done = ice_done_partitions(table)
    started_at = datetime.now(timezone.utc)  # before the data write
    if set(range(num_partitions)) <= set(done):
        entries, rows, summary = [], [], _lineage_summary([])
    else:
        extracted = run_extraction(
            pages, num_partitions=num_partitions, done_partitions=done
        )
        entries, rows, summary = stage_lineage(spark, table, extracted, run_id)
    run = {
        "started_at": started_at.isoformat(),
        "finished_at": datetime.now(timezone.utc).isoformat(),
        "partitions_total": num_partitions,
        "partition_id_rule": PARTITION_ID_RULE,
    }
    by_partition = {
        str(r["partition_id"]): {**r.asDict(), **run, "status": STATUS_SUCCEEDED}
        for r in rows
    }
    for e in entries:
        if e["partition"] in by_partition:
            e["lineage"] = by_partition.pop(e["partition"])
    snap = table.commit_overwrite(
        entries, extra_summary={"run_id": run_id, **run, "lineage": summary}
    )
    return {
        "run_id": run_id,
        "snapshot_id": int(snap["snapshot_id"]),
        "resumed_partitions_skipped": len(done),
        "partitions_total": len(_live_partitions(table.plan_files())),
        "table_dir": table_dir,
    }
