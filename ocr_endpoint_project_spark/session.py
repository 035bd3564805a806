"""SparkSession factory tuned for the extraction workload.

Settings chosen for 100 TB-scale behavior (and verified at local[*]):

* AQE on (runtime re-plan, skew-join splitting) — the url-hash salting in
  ``pipeline/extract.py`` handles host skew at the repartition, AQE covers
  residual shuffle skew;
* Arrow batches capped LOW (64 rows): document blobs are up to 10 MB
  (``cv_api/main.py:38-40`` cap), so batch memory is bounded by
  ``rows x max_doc_bytes`` — the bounded-memory analog of the reference's
  1 MB payload-compression ladder (``ocr_common.py:401-428``);
* 128 MB target partition bytes on file scans — large enough to amortize
  task overhead, small enough that a partition of blobs fits an executor.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ARROW_MAX_RECORDS = 64


def build_session(
    app_name: str = "ocr-endpoint-project-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = ARROW_MAX_RECORDS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """``arrow_batch_rows``: size so that rows x max_doc_bytes <= ~256 MB.
    64 is right for 10 MB blobs; KB-sized corpora can use 1024+."""
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
    )
    # shuffle to tmpfs when available (local mode; clusters provision
    # spark.local.dir themselves via SPARK_LOCAL_DIRS)
    if "SPARK_LOCAL_DIRS" not in os.environ and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    builder = (
        builder
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # size-first coalescing (optimization guide §2.2: fewer, larger
        # reduce partitions; let AQE shrink toward the advisory size
        # instead of preserving parallelism on tiny shuffles). At scale
        # partitions above the advisory never coalesce, so this only
        # removes minimum-size task overhead; the advisory is
        # parameterized for cluster tuning. Local effect: within window
        # noise — paired in-session A/B median ratio ~1.02
        # (OPTIMIZATION_r08.md) — kept on the scale argument, not a
        # claimed local win.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION", "64m"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    else:
        builder = builder.config("spark.sql.shuffle.partitions", "32")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    # ad-hoc conf overrides for experiments/deployments without a code
    # change: SPARK_GRAFT_CONF="k1=v1;k2=v2" (applied last, wins)
    for kv in filter(None, os.environ.get("SPARK_GRAFT_CONF", "").split(";")):
        k, _, v = kv.partition("=")
        builder = builder.config(k.strip(), v.strip())
    return builder.getOrCreate()
