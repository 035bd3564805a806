"""spark-submit entry point for the flagship extraction job.

Usage (cluster or local):

    spark-submit --py-files ocr_endpoint_project_spark.zip \\
        jobs/extract_job.py \\
        --input  /data/pages_parquet \\
        --output /data/extract_out \\
        --partitions 4096 \\
        --run-id run-2026-08-16

Results land in the icetable ``{output}/extracted_ice``: one overwrite
snapshot per run, with the run's lineage in the snapshot summary and each
partition's lineage in its manifest entry.

The job is RESUMABLE: re-running with the same ``--output`` skips
partitions already live in the table's current snapshot (exact
checkpoint resume, pipeline/lineage.py). The async-job surface of the
reference (``POST /v1/jobs`` + poll, ``cv_api/main.py:407-451``) maps
to: submit this job, poll ``job_progress(table_dir)`` with
``table_dir = {output}/extracted_ice``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description="distributed main-content extraction")
    ap.add_argument("--input", required=True, help="pages parquet directory")
    ap.add_argument("--output", required=True, help="output root (holds extracted_ice/)")
    ap.add_argument("--partitions", type=int, default=256)
    ap.add_argument("--run-id", default="run-1")
    ap.add_argument("--quarantine", action="store_true", help="validate + quarantine first")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from ocr_endpoint_project_spark.pipeline.ingest import validate_pages
    from ocr_endpoint_project_spark.pipeline.lineage import run_with_lineage_ice

    spark = SparkSession.builder.appName(f"extract-{args.run_id}").getOrCreate()
    # bounded Arrow batches regardless of how the session was configured
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")

    pages = spark.read.parquet(args.input)
    if args.quarantine:
        pages, quarantined = validate_pages(pages)
        quarantined.write.mode("overwrite").parquet(os.path.join(args.output, "quarantine"))

    stats = run_with_lineage_ice(
        spark, pages, args.output, run_id=args.run_id, num_partitions=args.partitions
    )
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
