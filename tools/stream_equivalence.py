"""Committed-artifact proof that incremental (streaming) dedup agrees
with the batch path: run both over the same documents, record doc
counts, keeper sets, dup counts, and an order-insensitive checksum.

Usage: python tools/stream_equivalence.py [out.json]

The pytest suite pins this equivalence too (test_dedupe_stream.py); this
tool exists so every round ships the agreement as a driver-readable JSON
record, not only as a green test name.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "STREAM_EQUIV.json"

    from pyspark.sql import functions as F

    from ocr_endpoint_project_spark.operators.dedup import minhash_lsh_pairs
    from ocr_endpoint_project_spark.pipeline.dedupe import dedupe_corpus
    from ocr_endpoint_project_spark.session import build_session
    from ocr_endpoint_project_spark.sources.icetable import IceTable
    from ocr_endpoint_project_spark.streaming import stream_dedupe

    spark = build_session(
        app_name="stream-equiv", master="local[8]", shuffle_partitions=8
    )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .orderBy("doc_id")
    )
    n_docs = docs.count()

    # batch path
    batch_kept = sorted(
        r["doc_id"]
        for r in dedupe_corpus(docs, pairs=minhash_lsh_pairs(docs)).select(
            "doc_id"
        ).collect()
    )

    # streaming path: same docs split into 3 doc_id-ordered batches
    # (first-seen-wins == min-doc_id keeper when arrival respects id order)
    with tempfile.TemporaryDirectory() as tmp:
        dirs = {k: os.path.join(tmp, k) for k in ("in", "out", "ckpt")}
        rows = docs.collect()
        third = (len(rows) + 2) // 3
        for i in range(3):
            chunk = rows[i * third : (i + 1) * third]
            if not chunk:
                continue
            spark.createDataFrame(chunk, docs.schema).coalesce(1).write.mode(
                "append"
            ).parquet(dirs["in"])
            q = stream_dedupe(spark, dirs["in"], dirs["out"], dirs["ckpt"])
            q.awaitTermination(300)
        stream_kept = sorted(
            r["doc_id"]
            for r in IceTable.load(dirs["out"]).scan(spark).select("doc_id").collect()
        )

    def checksum(ids: list[int]) -> str:
        return hashlib.md5(",".join(map(str, ids)).encode()).hexdigest()

    record = {
        "sf_dir": sf_dir,
        "docs_in": n_docs,
        "batch_kept": len(batch_kept),
        "stream_kept": len(stream_kept),
        "dups_dropped": n_docs - len(stream_kept),
        "keeper_sets_equal": batch_kept == stream_kept,
        "keeper_checksum_batch": checksum(batch_kept),
        "keeper_checksum_stream": checksum(stream_kept),
    }
    spark.stop()
    with open(out_path, "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(record))
    assert record["keeper_sets_equal"], "stream != batch keeper set"


if __name__ == "__main__":
    main()
