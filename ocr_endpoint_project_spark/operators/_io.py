"""Shared IO for operator modules: spread small inputs on read, and
per-application temporary directories.

A single small parquet file scans as ONE partition (maxPartitionBytes
splitting is per-file), serializing every first stage onto one core. At
100 TB inputs arrive as thousands of splits and this is a no-op; at
bench/test scale the round-robin repartition unlocks all cores for one
tiny shuffle. The check is plan-side only (no data read).
"""

from __future__ import annotations

import os
import tempfile
import uuid
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession


def read_spread(spark: SparkSession, path: str) -> DataFrame:
    df = spark.read.parquet(path)
    parallelism = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < parallelism:
        df = df.repartition(parallelism)
    return df


def app_temp_root(spark: SparkSession, name: str, local: bool = False) -> str:
    """``<tmp>/spark-graft-<name>-<applicationId>``, created on the Hadoop
    default filesystem (the local one when ``local``) and registered with
    ``FileSystem.deleteOnExit``, so the driver JVM deletes it when it
    exits."""
    hfs = spark._jvm.org.apache.hadoop.fs
    conf = spark._jsc.hadoopConfiguration()
    fs = hfs.FileSystem.getLocal(conf) if local else hfs.FileSystem.get(conf)
    base = tempfile.gettempdir() if local else "/tmp"
    root = fs.makeQualified(
        hfs.Path(f"{base}/spark-graft-{name}-{spark.sparkContext.applicationId}")
    )
    fs.mkdirs(root)
    fs.deleteOnExit(root)  # a set of paths: registering again is a no-op
    return root.toString()


def scratch_dir(spark: SparkSession, name: str) -> str:
    """A fresh local directory per call under this application's scratch
    root, so no other call, session or process writes or deletes it."""
    root = urlparse(app_temp_root(spark, "scratch", local=True)).path
    path = os.path.join(root, f"{name}-{uuid.uuid4().hex}")
    os.makedirs(path)
    return path
