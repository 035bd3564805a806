"""spark-submit entry point for corpus deduplication.

Usage (cluster or local):

    spark-submit --py-files ocr_endpoint_project_spark.zip \\
        jobs/dedupe_job.py \\
        --input  /data/documents_parquet \\
        --output /data/dedup_out \\
        --method minhash-lsh

Pipeline: tokenize -> shingle -> MinHash signatures -> LSH band-bucket
candidate pairs -> exact-Jaccard verify -> connected components ->
keeper per cluster -> deduplicated corpus written to
``{output}/deduped`` with ``{output}/clusters`` holding the full
per-doc cluster assignment (the audit trail). Signature/pair
intermediates are materialized under ``{output}/signatures`` — the
100-TB shape (a signatures TABLE, never recomputed) — one directory per
pin, ``signatures/<name>/<token>`` (a pin name reached more than once
gets one token directory each time). They are the job's output and are
kept; a rerun into the same ``--output`` adds new token directories.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description="distributed corpus deduplication")
    ap.add_argument("--input", required=True, help="documents parquet (doc_id, text, ...)")
    ap.add_argument("--output", required=True, help="output root")
    ap.add_argument("--method", default="minhash-lsh", choices=["minhash-lsh"])
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    os.environ.setdefault(
        "SPARK_GRAFT_MATERIALIZE_DIR", os.path.join(args.output, "signatures")
    )

    from ocr_endpoint_project_spark.operators.dedup import minhash_lsh_pairs
    from ocr_endpoint_project_spark.pipeline.dedupe import dedupe_corpus, resolve_clusters

    spark = SparkSession.builder.appName("dedupe-corpus").getOrCreate()

    docs = spark.read.parquet(args.input)
    pairs = minhash_lsh_pairs(docs)

    # resolve ONCE: write the cluster assignment, then derive the keeper
    # filter from the written table so the iterative component loop (and
    # the pair materialization feeding it) runs a single time per job
    clusters_path = os.path.join(args.output, "clusters")
    resolve_clusters(pairs, docs).write.mode("overwrite").parquet(clusters_path)
    clusters = spark.read.parquet(clusters_path)

    deduped = dedupe_corpus(docs, clusters=clusters)
    deduped.write.mode("overwrite").parquet(os.path.join(args.output, "deduped"))

    n_in = docs.count()
    n_out = spark.read.parquet(os.path.join(args.output, "deduped")).count()
    print(json.dumps({"docs_in": n_in, "docs_kept": n_out, "docs_removed": n_in - n_out}))
    spark.stop()


if __name__ == "__main__":
    main()
