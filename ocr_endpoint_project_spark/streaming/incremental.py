"""Incremental extraction with Structured Streaming.

The reference's async-job surface (``POST /v1/jobs`` + poll,
``cv_api/main.py:407-451``) maps to a file-arrival stream: new page
files land in a directory, each micro-batch runs the SAME salted
extraction pipeline, and the checkpoint gives exactly-once per input
file — the streaming twin of the batch lineage/resume in
``pipeline/lineage.py``. ``Trigger.AvailableNow`` drains the backlog and
stops, which is the "job" execution mode; leaving the trigger default
gives a continuous service.

The reference's completion webhook and progress callback
(``cv_api/main.py:199-301``) become data: each micro-batch's job summary
rides in the snapshot that commits its rows, and the optional
driver-side ``callback_fn`` fires only after that commit.

The batch and streaming paths share ``run_extraction`` and
``stage_lineage`` verbatim — one code path to keep byte-identity and
lineage guarantees in both modes.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..pipeline.extract import DEFAULT_PARTITIONS, run_extraction
from ..pipeline.lineage import stage_lineage
from ..schemas import PAGES_SCHEMA
from ..sources.icetable import IceTable

BATCH_KEY = "batch_key"


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    table_dir: str,
    checkpoint_dir: str,
    num_partitions: int = DEFAULT_PARTITIONS,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    callback_fn=None,
) -> StreamingQuery:
    """Start the incremental extraction stream: page parquet files in,
    ONE icetable snapshot per micro-batch out (``sources/icetable.py``).

    ``max_files_per_trigger`` bounds per-batch input (the streaming analog
    of the bounded Arrow batches) so a backlog of 10^6 files never turns
    into one giant micro-batch.

    Exactly-once without relying on the file sink: a batch is identified
    by (query id, batch id). The table is partitioned by the string
    ``batch_key = "{query id}-{batch id}"`` (``batch_id`` stays an
    ordinary column), so queries with different checkpoints can share one
    table — each one's batch ids restart at 0, but their keys never
    collide. A batch whose key is already a live partition is skipped:
    a crash after the table commit but before the checkpoint advances
    replays the batch, and the replay stages, commits and calls back
    nothing. Otherwise the batch is staged, its job summary is derived
    from the staged files (``stage_lineage``, shared with the batch
    sink) and both publish in one dynamic partition overwrite of its own
    key.

    The summary — ``batch_id``, ``query_id``, doc/ok/failed/byte counts,
    ``total_cost_usd``, ``checksum``, ``status`` (``succeeded`` or
    ``partial``) and ``docs_cumulative`` (this query's live rows,
    read from table metadata) — lands as ``summary["lineage"]`` of the
    snapshot, next to ``stream_batch_id``. ``callback_fn(summary)`` (the
    reference's webhook POST slot) is called after the commit returns.
    """
    try:
        table = IceTable.load(table_dir)
    except FileNotFoundError:
        table = IceTable.create(
            table_dir, partition_col=BATCH_KEY, stat_cols=["url", "doc_bytes"]
        )
    if table.metadata()["partition_col"] != BATCH_KEY:
        raise ValueError(f"{table_dir} is not partitioned by {BATCH_KEY}")

    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    pages = reader.parquet(input_dir)

    extracted = run_extraction(pages, num_partitions=num_partitions)

    def _commit(batch_df, batch_id: int) -> None:
        query_id = batch_df.sparkSession.sparkContext.getLocalProperty(
            "sql.streaming.queryId"
        )
        if not query_id:
            raise RuntimeError("foreachBatch ran without a streaming query id")
        key = f"{query_id}-{batch_id}"
        mine = [
            e for e in table.plan_files() if e["partition"].startswith(f"{query_id}-")
        ]
        if any(e["partition"] == key for e in mine):
            return  # replay of a committed batch
        entries, _, lineage = stage_lineage(
            spark,
            table,
            batch_df.withColumn("batch_id", F.lit(int(batch_id)).cast("long"))
            .withColumn(BATCH_KEY, F.lit(key)),
            key,
        )
        summary = {
            "query_id": query_id,
            "batch_id": int(batch_id),
            **lineage,
            "status": "partial" if lineage["failed_count"] else "succeeded",
            "docs_cumulative": sum(e["rows"] for e in mine) + lineage["doc_count"],
        }
        table.commit_overwrite(
            entries, extra_summary={"stream_batch_id": int(batch_id), "lineage": summary}
        )
        if callback_fn is not None:
            callback_fn(summary)

    writer = (
        extracted.writeStream.foreachBatch(_commit)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
