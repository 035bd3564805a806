"""spark-submit entry point for INCREMENTAL (streaming) deduplication.

Usage (cluster or local):

    spark-submit --py-files ocr_endpoint_project_spark.zip \\
        jobs/stream_dedupe_job.py \\
        --input      /data/incoming_docs \\
        --output     /data/dedup_out/keepers \\
        --checkpoint /data/dedup_out/ckpt \\
        [--compact-state]

Runs one AvailableNow pass of ``streaming/dedupe_stream.stream_dedupe``:
every unprocessed micro-batch is deduplicated against itself AND every
document kept so far, and commits its keepers (with their signatures)
as one snapshot of the keeper icetable at ``--output``; the cumulative
hot-shingle df table lives next to it (``<output>_shingle_df``).
Re-invoking the job later (cron, new crawl drop) continues from the
checkpoint — the streaming analog of re-running dedupe_job from
scratch, at per-batch cost.

``--compact-state`` folds the committed batches' shingle-df partitions
after the pass (jobs are the natural place for maintenance: the stream
itself never blocks on compaction).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run(spark, input_dir: str, out_dir: str, checkpoint_dir: str,
        compact_state: bool = False) -> dict:
    from pyspark.errors import AnalysisException

    from ocr_endpoint_project_spark.sources.icetable import IceTable
    from ocr_endpoint_project_spark.streaming.dedupe_stream import (
        compact_shingle_df_state,
        stream_dedupe,
    )

    stream_dedupe(spark, input_dir, out_dir, checkpoint_dir).awaitTermination()
    try:
        docs_in = spark.read.parquet(input_dir).count()
    except AnalysisException:
        docs_in = 0
    try:
        keepers = sum(e["rows"] for e in IceTable.load(out_dir).plan_files())
    except FileNotFoundError:
        keepers = 0
    stats = {"docs_in": docs_in, "keepers": keepers, "dups_dropped": docs_in - keepers}
    if compact_state:
        stats["state_compaction"] = compact_shingle_df_state(spark, out_dir)
    return stats


def main() -> None:
    ap = argparse.ArgumentParser(description="incremental streaming deduplication")
    ap.add_argument("--input", required=True, help="documents parquet dir (doc_id, text)")
    ap.add_argument("--output", required=True, help="keeper icetable dir")
    ap.add_argument("--checkpoint", required=True, help="streaming checkpoint dir")
    ap.add_argument("--compact-state", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("stream-dedupe").getOrCreate()
    stats = run(spark, args.input, args.output, args.checkpoint,
                compact_state=args.compact_state)
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
