"""spark-submit entry point for the training-data preparation pipeline:
the full last-mile chain from a raw documents table to a training-ready
pack manifest in one resubmittable job.

    spark-submit --py-files ocr_endpoint_project_spark.zip \\
        jobs/trainprep_job.py \\
        --input  /data/documents_parquet \\
        --output /data/trainprep_out

Stages (each a committed artifact under ``--output``):

1. exact dedup      — first-occurrence keeper per identical text
                      (hot-key-safe agg, operators/dedup.py idiom);
2. near dedup       — MinHash-LSH pairs -> connected components ->
                      min-doc_id keeper (pipeline/dedupe.py);
3. quality filter   — hashed-linear logit > 0 (the fastText-style
                      CCNet/LLaMA filtering idiom, textstats.py);
4. split assign     — hash-bucket train/val/test (stable under corpus
                      growth; operators/trainprep.py);
5. pack manifest    — concat-and-chunk token offsets for the TRAIN
                      split, appended to an ICETABLE partitioned by
                      shard (one snapshot per run: every rerun is time
                      travel-able, and downstream consumers tail the
                      manifest table with the icetable streaming source).

Prints one JSON line of per-stage counts — the job's contract for
orchestrators, mirroring extract_job.py.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description="training-data preparation chain")
    ap.add_argument("--input", required=True, help="documents parquet (doc_id, text, lang, source)")
    ap.add_argument("--output", required=True, help="output root")
    ap.add_argument("--partitions", type=int, default=32)
    ap.add_argument(
        "--trained-probe",
        action="store_true",
        help="quality-filter with the in-engine TRAINED probe "
        "(operators/trainprep.train_quality_probe) instead of the "
        "fixed hashed-linear scorer",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from ocr_endpoint_project_spark.functions.text import norm_tokens, shingle_hash32
    from ocr_endpoint_project_spark.operators.dedup import minhash_lsh_pairs
    from ocr_endpoint_project_spark.operators.trainprep import (
        pack_sequences,
        split_assign,
    )
    from ocr_endpoint_project_spark.pipeline.dedupe import dedupe_corpus
    from ocr_endpoint_project_spark.sources.icetable import IceTable

    spark = SparkSession.builder.appName("trainprep").getOrCreate()
    spark.conf.set("spark.sql.shuffle.partitions", str(args.partitions))

    docs = spark.read.parquet(args.input)
    n_in = docs.count()

    # 1. exact dedup: the agg OUTPUT is the keeper set (never join back
    # on the possibly-hot text key)
    keep_exact = (
        docs.groupBy(F.md5("text").alias("_k"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    docs = docs.join(keep_exact, "doc_id")
    n_exact = docs.count()

    # 2. near dedup (MinHash-LSH + connected components)
    docs = dedupe_corpus(docs, pairs=minhash_lsh_pairs(docs)).drop(
        "cluster_id", "cluster_size"
    )
    n_near = docs.count()

    # 3. quality filter: hashed-linear logit > 0, or (--trained-probe,
    # r7) a probe TRAINED in-engine on the corpus's seed labels —
    # operators/trainprep.train_quality_probe (integer-exact GD, the
    # DCLM-style classifier step)
    if getattr(args, "trained_probe", False):
        from ocr_endpoint_project_spark.operators.dedup import _pin
        from ocr_endpoint_project_spark.operators.trainprep import (
            QP_S,
            _qp_features,
            _qp_score_expr,
            train_quality_probe,
        )

        feat = _pin(_qp_features(docs), "qp_features")
        w = train_quality_probe(feat)
        keep = feat.filter(F.expr(_qp_score_expr(w)) > QP_S // 2).select("doc_id")
        docs = docs.join(keep, "doc_id", "left_semi")
    else:
        logit = F.aggregate(
            F.transform(norm_tokens("text"), lambda t: shingle_hash32(t) % 2001 - 1000),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        docs = docs.withColumn("_logit", logit).filter(F.col("_logit") > 0).drop("_logit")
    n_quality = docs.count()

    # 4. split; persist the assignment for audit, keep train for packing
    assigned = split_assign(docs)
    assigned.drop("text").write.mode("overwrite").parquet(
        os.path.join(args.output, "split_assign")
    )
    split_counts = {
        r["split"]: r["n"]
        for r in assigned.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    train = assigned.filter(F.col("split") == "train")

    # 5. pack manifest -> icetable snapshot (partitioned by shard so the
    # writer fan-out matches the packing shards)
    manifest = pack_sequences(train)
    tdir = os.path.join(args.output, "pack_manifest_ice")
    t = (
        IceTable.load(tdir)
        if os.path.exists(os.path.join(tdir, "metadata"))
        else IceTable.create(tdir, partition_col="shard", stat_cols=["doc_id"])
    )
    from ocr_endpoint_project_spark.operators.trainprep import N_SHARDS, PACK_TOKENS

    snap = t.append(manifest.repartition(N_SHARDS, "shard"))
    n_packs = (
        manifest.groupBy("shard").agg(F.max("tok_end").alias("te")).agg(
            F.sum(F.expr(f"(te + {PACK_TOKENS - 1}) div {PACK_TOKENS}"))
        ).collect()[0][0]
    )

    print(
        json.dumps(
            {
                "docs_in": n_in,
                "after_exact_dedup": n_exact,
                "after_near_dedup": n_near,
                "after_quality_filter": n_quality,
                "split_counts": split_counts,
                "train_packs": int(n_packs or 0),
                "manifest_snapshot_id": snap["snapshot_id"],
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
