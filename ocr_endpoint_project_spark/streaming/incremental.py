"""Incremental extraction with Structured Streaming.

The reference's async-job surface (``POST /v1/jobs`` + poll,
``cv_api/main.py:407-451``) maps to a file-arrival stream: new page
files land in a directory, each micro-batch runs the SAME salted
extraction pipeline, and the checkpoint gives exactly-once per input
file — the streaming twin of the batch lineage/resume in
``pipeline/lineage.py``. ``Trigger.AvailableNow`` drains the backlog and
stops, which is the "job" execution mode; leaving the trigger default
gives a continuous service.

The batch and streaming paths share ``run_extraction`` verbatim — one
code path to keep byte-identity guarantees in both modes.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..pipeline.extract import DEFAULT_PARTITIONS, run_extraction
from ..schemas import PAGES_SCHEMA
from ..sources.icetable import IceTable


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    table_dir: str,
    checkpoint_dir: str,
    num_partitions: int = DEFAULT_PARTITIONS,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Start the incremental extraction stream: page parquet files in,
    ONE icetable snapshot per micro-batch out (``sources/icetable.py``).

    ``max_files_per_trigger`` bounds per-batch input (the streaming analog
    of the bounded Arrow batches) so a backlog of 10^6 files never turns
    into one giant micro-batch.

    Exactly-once without relying on the file sink: the table is
    partitioned by ``batch_id``, and each micro-batch lands as a dynamic
    partition overwrite of ITS OWN batch_id — a crash after the table
    commit but before the checkpoint advances replays the batch, and the
    replay REPLACES the same partition instead of duplicating it (the
    same replay contract as streaming/dedupe_stream.py's keeper output).
    Every micro-batch stays time-travelable as a snapshot, so "what had
    the stream extracted as of batch k" is one metadata read.
    """
    try:
        table = IceTable.load(table_dir)
    except FileNotFoundError:
        table = IceTable.create(
            table_dir, partition_col="batch_id", stat_cols=["url", "doc_bytes"]
        )

    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    pages = reader.parquet(input_dir)

    extracted = run_extraction(pages, num_partitions=num_partitions)

    def _commit(batch_df, batch_id: int) -> None:
        table.overwrite_partitions(
            batch_df.withColumn("batch_id", F.lit(int(batch_id)).cast("long")),
            extra_summary={"stream_batch_id": int(batch_id)},
        )

    writer = (
        extracted.writeStream.foreachBatch(_commit)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_extract_with_callbacks(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    callbacks_dir: str,
    num_partitions: int = DEFAULT_PARTITIONS,
    available_now: bool = True,
    callback_fn=None,
    lineage_dir: str | None = None,
    run_prefix: str | None = None,
) -> StreamingQuery:
    """Callback sink (S9) + progress reporting (O10): the reference's
    completion webhook (``cv_api/main.py:199-220``) and per-job progress
    callback become DATA — one summary row per micro-batch appended to a
    ``callbacks`` table via ``foreachBatch``, plus an optional driver-side
    ``callback_fn(summary_dict)`` hook (the literal webhook POST slot).

    The per-batch summary agg collects k rows (k = 1) — driver-side by
    design, like any foreachBatch commit hook; the data path itself never
    leaves executors.

    With ``lineage_dir`` set, each micro-batch also appends the SAME
    per-partition lineage rows the batch path writes
    (``pipeline/lineage.py``), run_id = ``{run_prefix}-batch-{batch_id}``.
    ``run_prefix`` defaults to a hash of ``checkpoint_dir`` — STABLE
    across restarts of the same logical query (same checkpoint) and
    unique across different queries sharing one lineage_dir, so run ids
    never collide between queries. A micro-batch whose lineage run_id
    already exists is SKIPPED entirely (data + lineage + callback) — the
    streaming twin of the batch path's resume (which skips partitions
    already live in the results table), making checkpoint replay of a
    committed batch idempotent. Replay caveat:
    the lineage row is the commit point, so a crash BETWEEN the data
    write and the lineage write re-runs the batch and re-appends its
    data parquet — the one at-least-once window a non-transactional
    file-append sink cannot close; readers needing exactly-once counts
    should consume the lineage table (latest row per run_id/partition),
    not raw output row counts.
    """
    import hashlib

    from ..pipeline.lineage import lineage_rows

    pages = spark.readStream.schema(PAGES_SCHEMA).parquet(input_dir)
    extracted = run_extraction(pages, num_partitions=num_partitions)

    prefix = run_prefix or "q" + hashlib.md5(checkpoint_dir.encode()).hexdigest()[:8]

    # cumulative progress across micro-batches — the streaming analog of
    # the reference's per-job progress percentages (cv_api/main.py:223-301);
    # with an unbounded stream there is no denominator, so progress is
    # docs-processed-so-far. Restored from this query's own lineage rows
    # on restart (not a bare closure counter that would reset to 0).
    totals = {"docs": -1}

    def _committed_run_ids() -> set[str]:
        if lineage_dir is None:
            return set()
        from pyspark.errors import AnalysisException

        try:
            lin = spark.read.parquet(lineage_dir)
        except AnalysisException as e:
            if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
                return set()
            raise
        mine = lin.filter(F.col("run_id").startswith(prefix + "-batch-"))
        return {r["run_id"] for r in mine.select("run_id").distinct().collect()}

    def _handle(batch_df, batch_id: int) -> None:
        from datetime import datetime, timezone

        run_id = f"{prefix}-batch-{batch_id}"
        if lineage_dir is not None:
            committed = _committed_run_ids()
            if totals["docs"] < 0:  # first batch after (re)start
                lin = spark.read.parquet(lineage_dir) if committed else None
                totals["docs"] = (
                    int(
                        lin.filter(F.col("run_id").startswith(prefix + "-batch-"))
                        .agg(F.sum("doc_count"))
                        .collect()[0][0]
                        or 0
                    )
                    if lin is not None
                    else 0
                )
            if run_id in committed:
                return  # checkpoint replay of an already-committed batch
        elif totals["docs"] < 0:
            totals["docs"] = 0
        started_at = datetime.now(timezone.utc)
        batch_df.persist()
        batch_df.write.mode("append").parquet(out_dir)
        if lineage_dir is not None:
            # same commit discipline as the batch path: lineage appended
            # only after the data write returned
            lineage_rows(
                batch_df, run_id=run_id, started_at=started_at,
                partitions_total=num_partitions,
            ).write.mode("append").parquet(lineage_dir)
        row = batch_df.agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.sum(F.when(F.col("status") == "succeeded", 1).otherwise(0)).alias("ok_count"),
            F.sum(F.when(F.col("status") != "succeeded", 1).otherwise(0)).alias("failed_count"),
            F.sum(F.coalesce(F.col("doc_bytes"), F.lit(0))).alias("byte_count"),
            F.sum(F.coalesce(F.col("cost_usd"), F.lit(0.0))).alias("total_cost_usd"),
        ).collect()[0]
        totals["docs"] += int(row["doc_count"] or 0)
        summary = {
            "batch_id": int(batch_id),
            "doc_count": int(row["doc_count"] or 0),
            "ok_count": int(row["ok_count"] or 0),
            "failed_count": int(row["failed_count"] or 0),
            "byte_count": int(row["byte_count"] or 0),
            "total_cost_usd": float(row["total_cost_usd"] or 0.0),
            "status": "succeeded" if not (row["failed_count"] or 0) else "partial",
            "docs_cumulative": totals["docs"],
        }
        spark.createDataFrame(
            [summary],
            "batch_id long, doc_count long, ok_count long, failed_count long, "
            "byte_count long, total_cost_usd double, status string, "
            "docs_cumulative long",
        ).withColumn("finished_at", F.current_timestamp()).write.mode("append").parquet(
            callbacks_dir
        )
        if callback_fn is not None:
            callback_fn(summary)
        batch_df.unpersist()

    writer = (
        extracted.writeStream.foreachBatch(_handle)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
